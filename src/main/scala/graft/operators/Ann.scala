package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.vectors

/** Similarity search / ANN over the embedding corpus (SURVEY §2, a1–a3 + vq3).
  *
  * Three tiers of the same problem:
  *  - a1: exact batch brute force — the correctness baseline. Query set
  *    broadcast against the corpus scan, codegen'd distance, per-query
  *    top-k.
  *  - a2: random-hyperplane LSH — corpus bucketed by sign bits of P
  *    fixed hyperplane projections; a query only scans its bucket. The
  *    100 TB scale path: bucket assignment is a pure map over the scan,
  *    the probe is a bucket-key lookup in a plan literal, candidate
  *    count ∝ bucket occupancy, never corpus².
  *  - a3: IVF — corpus assigned to its nearest coarse centroid (pure
  *    per-row expression argmin over the broadcast centroid set, no
  *    shuffle), queries probe the nprobe nearest cells.
  *
  * All three share one deterministic literal query set so results are
  * oracle-checkable; every distance/rank decision ties-break on ids.
  */
object Ann {

  val K = 10
  val NumQueries = 5

  /** Deterministic literal query vectors (driver-side constants, like
    * the reference's client-side CLIP encodings). */
  val querySet: Seq[(Int, Seq[Double])] =
    (0 until NumQueries).map(i => i -> VectorSearch.qvec(10 + i))

  private def sqlValues(rows: Seq[String]): String = rows.mkString(", ")

  private def queriesValuesSql: String =
    sqlValues(querySet.map { case (i, v) =>
      s"($i, ${VectorSearch.sqlArray(v)}::DOUBLE[])"
    })

  /** The per-query rank cut every probe surface shares (a1/a2/a3/a4/
    * vq3/vq4 and [[refineStage]]): keep the first `cut` rows per
    * query_id under the total (`scoreCol`, vec_id) order. `nq` is the
    * number of distinct query_ids in `cand`, and it picks the plan.
    * Both plans run in two phases, a per-scan-partition cut and a
    * merge of its ≤ partitions×cut×nq survivors, so the probed set (a
    * constant fraction of the corpus at any fixed probe width) never
    * funnels whole into one task. The ordering is total, so the result
    * is the same under any partitioning.
    *
    *  - nq = 1: `orderBy(scoreCol, vec_id).limit(cut)`, planned as a
    *    `TakeOrderedAndProject`: a top-`cut` per partition, then one
    *    merge of ≤ partitions×cut rows — one job, no exchange. Spark
    *    plans it only while `cut` < `topKSortFallbackThreshold` (above
    *    it, a range-partitioned global sort), so the cut is refused
    *    there. Its output is in (`scoreCol`, vec_id) order.
    *  - nq > 1: one `row_number() <= cut` rank per query_id. Spark
    *    plans a map-side `WindowGroupLimit` Partial that keeps ≤ `cut`
    *    rows per (query, scan partition) BELOW the per-query exchange,
    *    and the Final limit + window rank the survivors. Spark plans
    *    the Partial only while `cut` ≤ `windowGroupLimitThreshold`, so
    *    the cut is refused above it. */
  private[graft] def twoPhaseCut(cand: DataFrame, scoreCol: String,
      cut: Int, nq: Int): DataFrame = {
    def refuseAbove(conf: String, ok: Int => Boolean, plan: String): Unit = {
      val threshold = cand.sparkSession.conf.get(conf).toInt
      require(ok(threshold), s"rank cut $cut over $nq queries exceeds " +
        s"$conf=$threshold: Spark would plan $plan")
    }
    if (nq == 1) {
      refuseAbove("spark.sql.execution.topKSortFallbackThreshold",
        cut < _, "a range-partitioned global sort of every probed row")
      cand.orderBy(col(scoreCol), col("vec_id")).limit(cut)
    } else {
      refuseAbove("spark.sql.optimizer.windowGroupLimitThreshold",
        cut <= _, "no map-side partial limit, and every probed " +
          "candidate row would cross the per-query exchange")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col(scoreCol), col("vec_id"))
      cand
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cut)
        .drop("rn")
    }
  }

  /** The answer of a probe surface: [[twoPhaseCut]] at k on (query_id,
    * vec_id, score) rows, in (query_id, score, vec_id) order. For one
    * query the cut's own `TakeOrderedAndProject` is already that
    * order. Otherwise at most k rows survive per query, so the sort is
    * bounded by k·nq and plans as one more `TakeOrderedAndProject` — no
    * range-partition sampling job, no sort exchange — and the limit
    * never truncates. */
  private[graft] def topKPerQuery(cand: DataFrame, k: Int,
      nq: Int): DataFrame = {
    val cut = twoPhaseCut(cand, "score", k, nq)
    if (nq == 1) cut
    else cut.orderBy(col("query_id"), col("score"), col("vec_id"))
      .limit(k * nq)
  }

  /** A probe scan's candidate rows: every `scan` row expanded into one
    * row per query probing its partition key `key` (IVF cell, LSH
    * bucket, RP-tree leaf), carrying that query's `payload`. `probes`
    * maps each probed key to its (query_id, payload) pairs and rides
    * the plan as a literal (the c14 dictGet shape), read with
    * `inline(element_at(map, key))`: no driver-side `LocalRelation` to
    * broadcast, so no broadcast job. A key no query probes yields no
    * row. */
  private[operators] def probeRows[K: TypeTag, P: TypeTag](scan: DataFrame,
      key: Column, payload: String, probes: Map[K, Seq[(Int, P)]]): DataFrame =
    scan.select(col("*"),
      inline(element_at(typedlit(probes), key)).as(Seq("query_id", payload)))

  // ---------------------------------------------------------------- a1

  /** a1: exact batch knn — every query against the full corpus. The
    * query set is broadcast (small by construction); the corpus is
    * scanned once with scores in whole-stage codegen, and
    * [[topKPerQuery]]'s map-side partial limit leaves at most
    * partitions×k×nq rows to cross the per-query exchange. */
  def batchKnn(embs: DataFrame,
      queryVecs: Seq[(Int, Seq[Double])] = querySet, k: Int = K)
      (implicit s: SparkSession): DataFrame = {
    import s.implicits._
    topKPerQuery(
      embs.join(broadcast(queryVecs.toDF("query_id", "qv")))
        .withColumn("score", vectors.cosineDistance(col("embedding"), col("qv")))
        .select(col("query_id"), col("vec_id"), col("score")),
      k, queryVecs.size)
  }

  def a1Query(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    batchKnn(Tables.embeddings(s, d))(s)
  }

  // ---------------------------------------------------------------- a2

  val NumPlanes = 6

  /** Fixed random hyperplanes (deterministic, shared with the oracle). */
  val planes: Seq[Seq[Double]] =
    (0 until NumPlanes).map(p => VectorSearch.qvec(20 + p))

  /** Sign-bit bucket of a vector column: bit p set iff dot(v, plane_p) ≥ 0. */
  def bucketCol(v: Column): Column =
    planes.zipWithIndex.map { case (pl, p) =>
      when(vectors.dotProduct(v, typedlit(pl)) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Driver-side bucket of a literal vector (same arithmetic order). */
  def bucketOf(v: Seq[Double]): Int =
    planes.zipWithIndex.map { case (pl, p) =>
      if (pl.zip(v).map { case (a, b) => a * b }.sum >= 0) 1 << p else 0
    }.sum

  private def bucketSql(v: String): String =
    planes.zipWithIndex.map { case (pl, p) =>
      s"(CASE WHEN list_inner_product($v, ${VectorSearch.sqlArray(pl)}::DOUBLE[]) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Multi-probe set for a query bucket: the exact bucket plus every
    * bucket at Hamming distance 1 (one hyperplane's sign flipped — the
    * most likely place a near-neighbor lands when the query sits close
    * to that plane). Driver-side, [[NumPlanes]]+1 values per query. */
  def probeBuckets(b: Int): Seq[Int] =
    b +: (0 until NumPlanes).map(p => b ^ (1 << p))

  /** The multi-probe set ORDERED for truncation: home bucket first,
    * then the Hamming-1 flips sorted by the query's |dot(v, plane_p)|
    * margin, closest plane first (ties on plane index) — the flip a
    * near neighbor most plausibly fell across. `take(p)` of this
    * sequence is the best-p probe set multi-probe LSH intends (Lv et
    * al., VLDB'07); fixed plane-index order gave intermediate
    * `--probes` settings arbitrary Hamming-1 buckets. Same SET as
    * [[probeBuckets]] at full width, so full-probe results (the gated
    * a2/a2_indexed defaults and their oracles) are unchanged. */
  def probeBucketsByMargin(v: Seq[Double]): Seq[Int] = {
    val b = bucketOf(v)
    val flips = planes.zipWithIndex
      .map { case (pl, p) =>
        (math.abs(pl.zip(v).map { case (a, x) => a * x }.sum), p)
      }
      .sortBy { case (m, p) => (m, p) }
      .map { case (_, p) => b ^ (1 << p) }
    b +: flips
  }

  /** LSH probe literal for [[probeRows]]: each query's first `probes`
    * buckets of [[probeBucketsByMargin]] → (query_id, qv). */
  private def bucketProbes(queryVecs: Seq[(Int, Seq[Double])],
      probes: Int): Map[Int, Seq[(Int, Seq[Double])]] =
    queryVecs.flatMap { case (i, v) =>
      probeBucketsByMargin(v).take(probes).map(pb => pb -> (i, v))
    }.groupMap(_._1)(_._2)

  /** Exact cosine of each probed row against its query, then
    * [[topKPerQuery]]: the tail of the LSH (a2) and RP-tree (a4)
    * surfaces. */
  private[operators] def cosineTopK(probed: DataFrame, k: Int, nq: Int): DataFrame =
    topKPerQuery(
      probed.select(col("query_id"), col("vec_id"),
        vectors.cosineDistance(col("embedding"), col("qv")).as("score")),
      k, nq)

  /** a2: LSH-bucketed ANN with multi-probe. Corpus bucket assignment is
    * a pure map (P codegen'd dot products per row); each query probes
    * its own bucket PLUS the P Hamming-1 probe buckets (~(P+1)·n/2^P of
    * the corpus), then exact cosine + top-k inside the probed set.
    * Probe buckets are driver-precomputed, so the probe stays one
    * [[probeRows]] lookup on the bucket key — multi-probe buys back the
    * recall a single-bucket LSH loses near plane boundaries without
    * changing the plan shape. A vector has exactly one bucket and probe
    * values are distinct, so no candidate dedup is needed. */
  def lshKnn(embs: DataFrame, k: Int = K,
      probes: Int = NumPlanes + 1)(implicit s: SparkSession): DataFrame =
    cosineTopK(
      probeRows(embs.withColumn("bkt", bucketCol(col("embedding"))),
        col("bkt"), "qv", bucketProbes(querySet, probes)),
      k, querySet.size)

  def a2Query(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    lshKnn(Tables.embeddings(s, d))(s)
  }

  // ------------------------------------------- a2 persisted index path

  /** Index location for a corpus dir: tmpdir-scoped, keyed by the
    * corpus path (sanitized + raw-path hash, see
    * [[graft.sources.LocalIndex.path]]) + plane count, so distinct
    * corpora (and any future plane-set change) get distinct indexes. */
  def lshIndexPath(d: String): String =
    graft.sources.LocalIndex.path("lsh-index", d, "_p" + NumPlanes)

  /** One-time index build: the corpus written partitioned BY BUCKET —
    * one directory per `bkt` value (≤ 2^P dirs), rows untouched. This
    * is the physical layout the reference's index-once-query-many
    * usage implies (search.py:20-35 issues repeated queries against a
    * prebuilt index): at 100 TB the corpus is written once and every
    * later probe prunes to its probe dirs at PLANNING time instead of
    * re-scanning and re-bucketing all rows per query (a2's cost). */
  def buildLshIndex(embs: DataFrame, path: String): Unit =
    embs.withColumn("bkt", bucketCol(col("embedding")))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("bkt").parquet(path)

  /** Append ONE corpus shard into an existing bucket-partitioned index:
    * the shard rows are bucketed by the same constant hyperplanes and
    * land as NEW part files inside the existing `bkt=` dirs — no old
    * file is rewritten. At 100 TB this is the only affordable shard
    * ingest (the reference appends shard batches continuously,
    * process.py:95-120); each append adds ≤ one file per bucket dir,
    * and the c7 compaction job folds small files back periodically. */
  def appendLshShard(shard: DataFrame, path: String): Unit =
    shard.withColumn("bkt", bucketCol(col("embedding")))
      .write.mode("append").option("compression", "zstd")
      .partitionBy("bkt").parquet(path)

  /** Build the index iff absent OR stale; APPEND-ONLY corpus growth
    * (new data files in the corpus dir, old ones untouched) appends
    * just the new shards via [[appendLshShard]] instead of rebuilding
    * (`_SUCCESS` marks a completed write; `_GRAFT_SRC` records the
    * per-data-file source manifest — an index left from a previous run
    * of a since-REGENERATED corpus still rebuilds; the marker write is
    * atomic, see [[graft.sources.LocalIndex.ensureIncremental]]).
    * Returns the path. */
  def ensureLshIndex(s: SparkSession, d: String): String =
    graft.sources.LocalIndex.ensureIncremental("lsh-index", d,
      "_p" + NumPlanes, Seq(s"$d/embeddings.parquet"), extra = "") { path =>
      buildLshIndex(Tables.embeddings(s, d), path)
    } { (newFiles, path) =>
      appendLshShard(s.read.parquet(newFiles: _*), path)
    }

  /** a2_indexed: the SAME multi-probe search as [[lshKnn]], but over
    * the persisted index. The probe-bucket set is a driver-side
    * constant, so the `isin` lands in the scan's PartitionFilters
    * (verified in AnnSpec): only the ~nq·(P+1) probed directories are
    * read — ~1/2^P of the corpus per probe — and no bucket is
    * recomputed. The [[probeRows]] literal then splits the pruned rows
    * among the queries probing them. `probes`/`queries` are
    * per-request knobs (SearchCli `--probes`); defaults reproduce the
    * gated a2_indexed result exactly. */
  def indexedLshKnn(s: SparkSession, d: String, k: Int = K,
      probes: Int = NumPlanes + 1,
      queryVecs: Seq[(Int, Seq[Double])] = querySet): DataFrame = {
    vectors.register(s)
    cosineTopK(
      probeIndex(Tables.loadLayout(s, ensureLshIndex(s, d)), "bkt", "qv",
        bucketProbes(queryVecs, probes)),
      k, queryVecs.size)
  }

  // ---------------------------------------------------------------- a3

  val CentroidStride = 50
  /** Hard cap on the codebook size — the collected centroid set is
    * CONSTANT-SIZE regardless of corpus size (a real IVF codebook is a
    * few k trained centroids at any scale; round 2's uncapped stride
    * sample grew linearly with the corpus and blew up both the driver
    * and the plan). */
  val NumCentroids = 32

  /** GATED probe width, scaled with the codebook: ⌈√NumCentroids⌉
    * (= 6 at 32 cells) — the standard IVF starting point (FAISS tunes
    * nprobe ∝ √nlist for a fixed recall target as the codebook
    * grows). Round 14's fixed nprobe=2 probed 1/16 of the cells
    * whatever the codebook and held gated recall at 0.20–0.34
    * mean / 0.00 min on the uniform corpus — a serving setting no
    * user would buy. √nlist keeps the probed corpus FRACTION shrinking
    * as the codebook scales (6/32 here, 32/1024 on a production-sized
    * codebook) while recall tracks the cell-boundary geometry; the
    * recall table in BASELINE.md freezes the measured trade at every
    * knob value, and nprobe stays a per-request override on
    * [[ivfKnn]]/[[quantizedIvfKnn]] (exposed through SearchCli). */
  val NProbe: Int = math.ceil(math.sqrt(NumCentroids.toDouble)).toInt

  /** Per-row nearest-centroid id as a fully CODEGEN'D expression:
    * the native [[graft.functions.NearestCentroid]] argmin loop with
    * the codebook as a reference object (min dist², ties to min cid;
    * dist² orders identically to the oracle's sqrt'd list_distance).
    * History: rounds 3–6 used an interpreted `array_min(transform(...))`
    * fold (~2k closure dispatches per row); rounds 7–16 a
    * `least(struct(l2², cid), ...)` literal fold — codegen'd, but its
    * k inlined distance loops crossed Janino's 64 KB method limit at
    * large k (d9's k=625, and a3's fold fused into a sf1 sort stage),
    * silently dropping the projection to interpreted. The reference-
    * object loop generates constant-size code at any k.
    *
    * coalesce: cid is never null at runtime (the codebook is non-empty)
    * but the expression inherits the input column's nullability, and
    * the probe join downstream would infer IsNotNull(cid) and
    * predicate-push the WHOLE argmin loop into the scan-stage filter —
    * evaluated per row, serially on few-split inputs, then again in the
    * projection. Non-nullable key → the inferred filter constant-folds
    * away. */
  def nearestCentroid(cents: Seq[(Long, Seq[Double])], v: Column): Column = {
    require(cents.nonEmpty, "nearestCentroid: empty codebook")
    val dims = cents.map(_._2.length).distinct
    require(dims.size == 1, s"nearestCentroid: mixed dims $dims")
    // sorted by cid so the expression's first-wins tie-break equals the
    // replaced least(struct(d, cid)) fold's min-cid-on-ties
    val sorted = cents.sortBy(_._1)
    coalesce(
      vectors.nearestCentroid(v, sorted.map(_._1), sorted.flatMap(_._2)),
      lit(-1L))
  }

  /** Codebook seed: the first [[NumCentroids]] corpus ids divisible by
    * [[CentroidStride]] — deterministic, one constant-size collect. */
  def seedCodebook(embs: DataFrame): Seq[(Long, Seq[Double])] =
    embs
      .filter(col("vec_id") % CentroidStride === 0 &&
        col("vec_id") < CentroidStride.toLong * NumCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq

  val KMeansIters = 5

  /** Bounded k-means (Lloyd) refinement of a seed codebook. Each
    * iteration is ONE pass over the corpus: the codegen'd
    * [[nearestCentroid]] assignment (pure map, no shuffle), then a
    * per-(cell, dim) mean whose partial aggregation happens map-side —
    * shuffle volume is partitions×k×dim partial sums, never corpus
    * rows — and one CONSTANT-SIZE collect of k×dim cell means. Empty
    * cells keep their previous centroid, so the codebook size is k at
    * every iteration regardless of assignment skew. Total driver state:
    * k×dim doubles per iteration — scale-independent. */
  def trainCodebook(embs: DataFrame, seed: Seq[(Long, Seq[Double])],
                    iters: Int = KMeansIters): Seq[(Long, Seq[Double])] = {
    var cents = seed
    for (_ <- 1 to iters) {
      val means: Map[Long, Seq[Double]] = embs
        .select(nearestCentroid(cents, col("embedding")).as("cid"),
          posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, rows) => cid -> rows.sortBy(_._2).map(_._3).toSeq }
      cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    cents
  }

  /** Trained codebook per corpus dir — train once, query many (the
    * reference's index usage). Mutable on purpose: [[oracles]] embeds
    * the trained centroid VALUES of the last-trained corpus as SQL
    * literals (Verify dumps oracle_sql.json AFTER running the queries,
    * so the cache is populated by dump time); re-deriving float
    * k-means bit-exactly inside DuckDB SQL would be parity-fragile —
    * `avg` summation order differs across engines. */
  private val codebooks = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], Seq[(Long, Seq[Double])])]()

  /** Cache key = dir + source-file fingerprint, for trained state
    * whose lifecycle is rebuild-on-ANY-change (a4's tree, t9's index
    * stats): a corpus REGENERATED in place (same dir, new bytes) must
    * retrain, not serve the old corpus' constants — dir-only keying
    * would in a long-lived JVM. The fingerprint read is file
    * metadata, the a2-ensure discipline. */
  private[operators] def trainedKey(d: String, table: String): String =
    d + "#" + graft.sources.LocalIndex.fingerprint(Seq(s"$d/$table.parquet"))

  /** The IVF codebook's lifecycle is DIFFERENT from [[trainedKey]]'s
    * rebuild-on-any-change: the incremental index contract requires
    * the codebook to stay FIXED while the corpus only GROWS (a
    * retrained codebook moves centroids and silently invalidates
    * every already-persisted cell assignment — the documented
    * LSM-style drift trade, folded back at full rebuild). So: serve
    * the cached codebook while every file it was trained on is still
    * byte-identical on disk (grow-only or unchanged); retrain only on
    * mutation/removal — the same manifest rule
    * [[graft.sources.LocalIndex.ensureIncremental]] applies to the
    * index files themselves, so codebook and index lifecycles agree. */
  def codebookFor(s: SparkSession, d: String): Seq[(Long, Seq[Double])] = {
    // get/recompute/put, NOT compute(): Lloyd training is a multi-job
    // Spark workload, and running it inside the ConcurrentHashMap bin
    // lock would hold the bin for the whole job (and a reentrant call
    // for the same dir would throw a recursive-update exception) —
    // the Dpp.peakThreshold shape; a duplicate recompute on a race is
    // cheaper than a long-held lock.
    val now = graft.sources.LocalIndex.dataManifest(
      Seq(s"$d/embeddings.parquet"))
    val cur = codebooks.get(d)
    if (cur != null && cur._1.nonEmpty && cur._1.forall(now.contains)) {
      // grow-only serve — but ADOPT the current manifest: a shard
      // appended after training is part of the served corpus from
      // here on, so a later in-place mutation of it must read as a
      // mutation (retrain), not as an invisible non-member of the
      // train-time file set. CAS-replace against the OBSERVED entry:
      // a plain put here could stomp a concurrent mutation-triggered
      // retrain with this thread's pre-mutation codebook (the adopt
      // loses the race, which is the safe direction — next call
      // re-reads whatever won)
      if (cur._1 != now) codebooks.replace(d, cur, (now, cur._2))
      cur._2
    } else {
      val embs = Tables.embeddings(s, d)
      val trained = trainCodebook(embs, seedCodebook(embs))
      codebooks.put(d, (now, trained))
      trained
    }
  }

  /** a3: IVF coarse quantization over a trained codebook. Only the
    * bounded codebook is driver-side; it enters the plan as k literal
    * vectors and cell assignment is the codegen'd [[nearestCentroid]]
    * fold — a pure map over the corpus scan: no shuffle, no join,
    * constant work per row, constant plan size. Queries probe their
    * NProbe nearest cells; exact distance only inside probed cells. */
  def ivfKnn(embs: DataFrame, cents: Seq[(Long, Seq[Double])], k: Int,
             nprobe: Int = NProbe)
            (implicit s: SparkSession): DataFrame =
    l2TopK(
      probeRows(embs.withColumn("cid", nearestCentroid(cents, col("embedding"))),
        col("cid"), "qv", cellProbes(cents, querySet, nprobe)((qv, _) => qv)),
      k, querySet.size)

  /** IVF probe literal for [[probeRows]]: each query's `nprobe` cells
    * nearest by driver-side L2 over the constant codebook (ties to the
    * smaller cid) → (query_id, `payload(qv, cid)`). The one probe-set
    * derivation of every IVF surface and of the vq4 oracle's LUT rows. */
  private def cellProbes[P](cb: Seq[(Long, Seq[Double])],
      queryVecs: Seq[(Int, Seq[Double])], nprobe: Int)(
      payload: (Seq[Double], Long) => P): Map[Long, Seq[(Int, P)]] =
    queryVecs.flatMap { case (i, qv) =>
      cb.map { case (cid, cv) =>
          (cid, math.sqrt(qv.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum))
        }
        .sortBy { case (cid, dd) => (dd, cid) }
        .take(nprobe)
        .map { case (cid, _) => cid -> (i, payload(qv, cid)) }
    }.groupMap(_._1)(_._2)

  /** [[probeRows]] over a persisted layout partitioned by `key`: the
    * probed keys are a driver constant, so the `isin` lands in the
    * scan's PartitionFilters and only probed directories are read. */
  private[operators] def probeIndex[K: TypeTag, P: TypeTag](idx: DataFrame,
      key: String, payload: String, probes: Map[K, Seq[(Int, P)]]): DataFrame =
    probeRows(idx.filter(col(key).isin(probes.keys.toSeq: _*)),
      col(key), payload, probes)

  /** Exact L2 of each probed row against its query vector `qv`, then
    * [[topKPerQuery]]: the tail of every float IVF surface. */
  private def l2TopK(probed: DataFrame, k: Int, nq: Int,
      qv: Column = col("qv")): DataFrame =
    topKPerQuery(
      probed.select(col("query_id"), col("vec_id"),
        vectors.l2Distance(col("embedding"), qv).as("score")),
      k, nq)

  def a3Query(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    ivfKnn(Tables.embeddings(s, d), codebookFor(s, d), K)(s)
  }

  // ------------------------------------------- a3 persisted index path

  def ivfIndexPath(d: String): String =
    graft.sources.LocalIndex.path("ivf-index", d, "_k" + NumCentroids)

  /** a3's persisted twin of [[ensureLshIndex]]: the corpus written
    * partitioned BY CELL ID under the trained codebook. The index
    * fingerprint includes the codebook values: the local k-means is
    * only per-JVM-deterministic (`avg` partial-sum order), so an index
    * written by a previous process against an ulp-different codebook
    * is rebuilt rather than probed inconsistently. (At 100 TB the
    * codebook itself would be persisted next to the index and loaded,
    * not retrained — the rebuild-on-mismatch guard makes the local
    * cache honest either way.) */
  def ensureIvfIndex(s: SparkSession, d: String): String = {
    val cb = codebookFor(s, d)
    // Incremental contract: append-only corpus growth assigns ONLY the
    // new shard's rows under the SAME codebook and appends them into
    // the existing cid= dirs (codebookFor caches per dir, so a shard
    // landing after the first build sees the unchanged codebook); any
    // codebook change — retrain in a new JVM (float avg is only
    // per-JVM-deterministic), a NumCentroids bump — changes `extra`
    // and falls back to the full rebuild. At 100 TB the codebook is
    // persisted beside the index and loaded, making the same check
    // process-independent; the rebuild-on-mismatch guard is what keeps
    // either cache honest.
    graft.sources.LocalIndex.ensureIncremental("ivf-index", d,
      "_k" + NumCentroids, Seq(s"$d/embeddings.parquet"),
      extra = "cb:" + cb.hashCode) { path =>
      Tables.embeddings(s, d)
        .withColumn("cid", nearestCentroid(cb, col("embedding")))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("cid").parquet(path)
    } { (newFiles, path) =>
      s.read.parquet(newFiles: _*)
        .withColumn("cid", nearestCentroid(cb, col("embedding")))
        .write.mode("append").option("compression", "zstd")
        .partitionBy("cid").parquet(path)
    }
  }

  /** a3_indexed: IVF probe over the persisted cell-partitioned index.
    * The probed cell set (NProbe nearest per query, driver-side argmin
    * over the constant codebook) is a static `isin`, so the scan reads
    * ONLY the probed cell directories (PartitionFilters — verified in
    * AnnSpec); no assignment is recomputed at query time. Same result
    * contract as a3_ivf_ann. */
  def indexedIvfKnn(s: SparkSession, d: String, k: Int = K,
      nprobe: Int = NProbe,
      queryVecs: Seq[(Int, Seq[Double])] = querySet): DataFrame = {
    vectors.register(s)
    val byCell = cellProbes(codebookFor(s, d), queryVecs, nprobe)((qv, _) => qv)
    l2TopK(
      probeIndex(Tables.loadLayout(s, ensureIvfIndex(s, d)), "cid", "qv", byCell),
      k, queryVecs.size)
  }

  // --------------------------------- a3 delete propagation (r18)

  /** Pinned gate deletion size (the c20/t8c bounded-key contract). */
  val DeleteN = 4

  /** Register deleted vec_ids against the persisted IVF index — the
    * vector-store right-to-be-forgotten path. A vector's row lives in
    * ONE cell file, but that file holds thousands of neighbors, so an
    * eager per-request delete is still a file rewrite per key;
    * tombstones make it O(set) metadata, served by a bounded
    * anti-join, folded at compaction. Machinery and contract:
    * [[graft.sources.Tombstones]]. */
  def tombstoneVecs(s: SparkSession, d: String, vecIds: Seq[Long]): Unit =
    graft.sources.Tombstones.write(s, ensureIvfIndex(s, d), "vec_id", vecIds)

  /** Register the deletion against EVERY serving copy of the corpus —
    * float IVF, int8 and PQ: a compliance delete that reached only one
    * tier would keep serving the vector from the others. Each copy
    * gets its own sidecar (their dirs have independent lifecycles);
    * the quantized live serves ([[quantizedIvfKnn]]/[[ivfPqKnn]] with
    * `live = true`) honor it the same way [[indexedIvfKnnLive]]
    * does. */
  def tombstoneVecsAll(s: SparkSession, d: String, vecIds: Seq[Long]): Unit = {
    graft.sources.Tombstones.write(s, ensureIvfIndex(s, d), "vec_id", vecIds)
    graft.sources.Tombstones.write(s, ensureIvfIndexI8(s, d), "vec_id", vecIds)
    graft.sources.Tombstones.write(s, ensureIvfPqIndex(s, d), "vec_id", vecIds)
  }

  /** a3_indexed's serve with deletions honored: the partition-pruned
    * probe scan anti-joins the bounded tombstone set BEFORE the
    * per-query rank, so deleted vectors can never occupy a top-k slot
    * (the k-th rank refills from the live candidates — unlike a
    * post-filter on the old top-k, which would silently return k−|del|
    * rows). Without a sidecar this IS [[indexedIvfKnn]]. */
  def indexedIvfKnnLive(s: SparkSession, d: String, k: Int = K,
      nprobe: Int = NProbe): DataFrame = {
    vectors.register(s)
    val byCell = cellProbes(codebookFor(s, d), querySet, nprobe)((qv, _) => qv)
    val dir = ensureIvfIndex(s, d)
    val live = graft.sources.Tombstones.filterLive(s, dir, "vec_id")(
      Tables.loadLayout(s, dir))
    l2TopK(probeIndex(live, "cid", "qv", byCell), k, querySet.size)
  }

  /** Fold vector tombstones physically (cell-aligned rewrite; serve
    * identical before/after — spec-pinned). */
  def compactVecTombstones(s: SparkSession, d: String): Unit =
    graft.sources.Tombstones.compact(s, ensureIvfIndex(s, d), "vec_id", "cid")

  /** a3_delete_ann gate: delete the pinned vec set (the [[DeleteN]]
    * smallest-hash60 vec_ids among a3_indexed's own hits — k-bounded
    * driver derivation, the c20 forget-set discipline), then serve the
    * delete-honoring probe. The oracle re-ranks the probed candidates
    * minus the same pinned set, so refilled ranks are checked too. */
  /** The delete gates' pinned forget set (the c20 forget-set
    * discipline: the [[DeleteN]] smallest-hash60 vec_ids among
    * a3_indexed's own hits — k-bounded driver derivation).
    *
    * Derivation stability (the t8cQuery discipline): the sidecar is
    * the durable pinned-set record, carried through compaction — a
    * rerun reuses it, so the gates never pin the next-smallest ids
    * after compactVecTombstones folded the first set and drift from
    * the oracle's source-replayed derivation. Shared by
    * [[a3DeleteQuery]] and [[vq3DeleteQuery]] so both delete gates
    * exclude the same keys. */
  private def pinnedDeleteSet(s: SparkSession, d: String): Seq[Long] =
    graft.sources.Tombstones
      .read(s, ensureIvfIndex(s, d), "vec_id")
      .map(_.collect().map(_.getLong(0)).toSeq.sorted)
      .getOrElse {
        indexedIvfKnn(s, d)
          .select(col("vec_id")).distinct()
          .withColumn("h", graft.functions.textops.hash60(
            col("vec_id").cast("string")))
          .orderBy(col("h"), col("vec_id")).limit(DeleteN)
          .collect().map(_.getLong(0)).toSeq
      }

  def a3DeleteQuery(s: SparkSession, d: String): DataFrame = {
    val del = pinnedDeleteSet(s, d)
    tombstoneVecsAll(s, d, del) // every serving copy gets the delete
    indexedIvfKnnLive(s, d)
  }

  /** vq3_delete gate (r19): the SAME pinned set propagated by
    * [[tombstoneVecsAll]], served from the QUANTIZED index with
    * `live = true` — the r18 propagation-to-every-serving-copy claim
    * under the cross-engine oracle, not only spec-pinned. The live
    * filter runs BEFORE the int8 rank cut, so deleted vectors never
    * hold a candidate slot and the float refine inherits the
    * exclusion. */
  def vq3DeleteQuery(s: SparkSession, d: String): DataFrame = {
    val del = pinnedDeleteSet(s, d)
    tombstoneVecsAll(s, d, del)
    quantizedIvfKnn(s, d, live = true)
  }

  /** vq3's quantized twin of [[ensureIvfIndex]]: the same cell
    * partitioning (cid assigned on the FULL-precision embedding, same
    * codebook — so vq3 probes exactly the cells a3 would), but each
    * row stores the int8 code + per-vector scale instead of the float
    * array ([[graft.functions.Int8Pack]], the vq1 quantizer). Probed
    * cells therefore scan ~4× fewer bytes than a3's float32 index —
    * IVF pruning × reduced precision compose: at 100 TB the probe
    * reads NProbe/NumCentroids of a quarter-width corpus. Same
    * grow-only append / codebook-change-rebuild contract as the float
    * index. */
  def ensureIvfIndexI8(s: SparkSession, d: String): String = {
    vectors.register(s)
    val cb = codebookFor(s, d)
    def rows(df: DataFrame): DataFrame = df
      .withColumn("cid", nearestCentroid(cb, col("embedding")))
      .select(col("vec_id"),
        (array_max(transform(col("embedding"), x => abs(x))).cast("double")
          / lit(127.0)).as("scale"),
        vectors.int8Pack(col("embedding")).as("qemb"), col("cid"))
    graft.sources.LocalIndex.ensureIncremental("ivf-i8-index", d,
      "_k" + NumCentroids, Seq(s"$d/embeddings.parquet"),
      extra = "cb:" + cb.hashCode) { path =>
      rows(Tables.embeddings(s, d))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("cid").parquet(path)
    } { (newFiles, path) =>
      rows(s.read.parquet(newFiles: _*))
        .write.mode("append").option("compression", "zstd")
        .partitionBy("cid").parquet(path)
    }
  }

  /** Refine depth for [[quantizedIvfKnn]]'s float re-rank stage:
    * candidates kept per query from the int8 ranking before exact
    * float scoring. Int8 quantization error is an additive noise band
    * on every distance; on a corpus whose true neighbors are spread
    * wider than the band (the hash-uniform gate corpus) it never flips
    * the top-10, but on a CLUSTERED corpus (near-tie distance bands —
    * the regime real embeddings live in; measured in the r16 recall
    * sweep at full probe: 0.70 recall without refine) it scrambles
    * near-tie ranks. The fix is the standard IVF serving shape (FAISS
    * refine): rank cheap, re-score the top R exactly. 256 covers the
    * observed displacement band (≈ ±60 ranks at 1.5k-member clusters)
    * with an order of magnitude to spare, and the refine read is
    * R·queries point rows — constant per query at any corpus size. */
  val RerankDepth = 256

  /** vq3: IVF-probed knn served from the int8 index — [[indexedIvfKnn]]
    * with the probed cells scanning packed bytes — followed by a FLOAT
    * refine: the int8 scores ([[graft.functions.L2DistanceI8]]
    * dequantizing inside the codegen loop, as vq2 does) only RANK
    * candidates; the top [[RerankDepth]] per query are re-scored
    * exactly against the float IVF index, pruned to the same probed
    * cells with a broadcast vec_id join (≤ R·queries rows — a point
    * read, never a corpus scan). Scan bytes stay int8-dominated
    * (probed cells at ¼ width for the ranking pass + R point rows of
    * float), and the answer carries EXACT distances — quantization
    * bounds what can be MISSED (a true neighbor pushed below rank R),
    * not what is reported. Deterministic end to end → exact DuckDB
    * oracle (the two-stage algorithm replayed verbatim). */
  def quantizedIvfKnn(s: SparkSession, d: String, k: Int = K,
      nprobe: Int = NProbe,
      queryVecs: Seq[(Int, Seq[Double])] = querySet,
      rerankDepth: Int = RerankDepth,
      live: Boolean = false): DataFrame = {
    require(rerankDepth >= k, s"rerankDepth $rerankDepth < k $k")
    vectors.register(s)
    val byCell = cellProbes(codebookFor(s, d), queryVecs, nprobe)((qv, _) => qv)
    val i8Dir = ensureIvfIndexI8(s, d)
    // live = honor registered deletes ([[tombstoneVecsAll]]): filter
    // the rank-stage scan, so deleted vectors never reach a candidate
    // slot and the refine (a point join against candidates) inherits
    // the exclusion. The gate serves live = false — its contract is
    // the plain index.
    val idxRaw = Tables.loadLayout(s, i8Dir)
    val idx = if (live)
      graft.sources.Tombstones.filterLive(s, i8Dir, "vec_id")(idxRaw)
    else idxRaw
    // qv is dropped BEFORE the rank cut: the 64-double query vector
    // would otherwise ride every candidate row through the rank
    // exchange (~0.5 KB/row of pure ballast); refineStage reads it
    // back from its query literal for the ≤ R·nq survivors.
    val cand = twoPhaseCut(
      probeIndex(idx, "cid", "qv", byCell)
        .select(col("query_id"), col("vec_id"),
          vectors.l2DistanceI8(col("qemb"), col("scale"), col("qv")).as("qscore")),
      "qscore", rerankDepth, queryVecs.size)
      .select(col("query_id"), col("vec_id"))
    refineStage(s, d, cand, queryVecs, byCell.keys.toSeq, k)
  }

  /** The shared float refine stage ([[quantizedIvfKnn]] / [[ivfPqKnn]]):
    * re-score `cand` rows (query_id, vec_id — ≤ RerankDepth per
    * query, broadcast: computed, so it is the one broadcast job) exactly
    * against the float IVF index, pruned to the same probed cells, and
    * keep the top k. The query vector is read per row as
    * `element_at(typedlit(query_id → qv), query_id)` — a plan literal,
    * so the rank cut upstream carries only (query_id, vec_id, score)
    * and no query table is broadcast. The refine read is a vec_id
    * point join inside probed cells — candidate-bounded, never a
    * corpus scan — and [[topKPerQuery]] bounds its final sort by k·nq
    * rows. */
  private def refineStage(s: SparkSession, d: String, cand: DataFrame,
      queryVecs: Seq[(Int, Seq[Double])], probedCells: Seq[Long],
      k: Int): DataFrame =
    l2TopK(
      Tables.loadLayout(s, ensureIvfIndex(s, d))
        .filter(col("cid").isin(probedCells: _*))
        .select(col("vec_id"), col("embedding"))
        .join(broadcast(cand), Seq("vec_id")),
      k, queryVecs.size,
      qv = element_at(typedlit(queryVecs.toMap), col("query_id")))

  // ------------------------------------------------------- vq4: IVF-PQ

  /** Product-quantization geometry: the 64-dim vector split into
    * [[PqSubspaces]] contiguous [[PqSubDim]]-dim subspaces, each
    * quantized against its own trained [[PqKsub]]-centroid codebook —
    * 16 nibbles = an 8-BYTE code per vector instead of 256 float32
    * bytes (32× smaller than the float corpus, 8× smaller than the
    * int8 copy; Jégou et al., PAMI 2011 — the FAISS IVFPQ shape).
    * 16×4-dim at 4 bits each was chosen over 8×8-dim at the same
    * total rate: finer subspaces roughly halve the quantization
    * distortion on the within-cell residual noise, measured directly
    * on the planted 50k clustered corpus (gated recall 0.82 → ≥ 0.9).
    * This is how 100 TB of embeddings fits a serving tier's byte
    * budget: the coarse IVF probe prunes FILES, the PQ code shrinks
    * every scanned BYTE, and the shared [[refineStage]] restores
    * exact reported distances from a candidate-bounded float point
    * read. */
  val PqSubspaces = 16
  val PqSubDim = 4
  val PqKsub = 16

  /** PQ-specific refine depth. An 8-nibble code carries far more
    * quantization error than the int8 copy (16 reproduction values per
    * subspace vs 255 per component), so the candidate band a true
    * neighbor can be displaced across is wider — the FAISS k_factor
    * intuition (rerank 100×k for PQ where 25×k suffices for scalar
    * quantizers). Still candidate-bounded: 1024 rows × queries is the
    * refine read at ANY corpus size. */
  val PqRerankDepth = 1024

  private def subspaceCol(m: Int): Column =
    slice(col("embedding"), m * PqSubDim + 1, PqSubDim)

  /** The coarse centroid VECTOR for a row's cell id — a codegen'd
    * conditional fold over the literal codebook (bounded branches,
    * same discipline as [[nearestCentroid]]). */
  private def centroidVecOf(cents: Seq[(Long, Seq[Double])],
      cid: Column): Column = {
    val first = when(cid === lit(cents.head._1), typedlit(cents.head._2))
    cents.tail.foldLeft(first) { case (acc, (id, cv)) =>
      acc.when(cid === lit(id), typedlit(cv))
    }
  }

  /** RESIDUAL encoding (the canonical IVFPQ detail): PQ quantizes
    * x − centroid(cell(x)), not x. Raw-vector PQ collapses on exactly
    * the corpora IVF serves well — all members of a tight cluster
    * share (nearly) one code, ADC degenerates to ties, and the
    * candidate cut is decided by id order (measured on the planted
    * 50k corpus: recall 0.14 before residuals). Residuals live at the
    * within-cell noise scale the sub-codebooks are trained on, so ADC
    * keeps discriminating where it matters. */
  private def residualCol(cents: Seq[(Long, Seq[Double])],
      cid: Column): Column =
    zip_with(col("embedding"), centroidVecOf(cents, cid), (x, c) => x - c)

  /** Per-subspace seed: [[seedCodebook]]'s strided-sample discipline
    * at [[PqKsub]] entries, re-keyed to 0..Ksub-1 so a stored code IS
    * the positional index into the query's lookup table. */
  private def seedSubCodebook(res: DataFrame, m: Int): Seq[(Long, Seq[Double])] =
    res.filter(col("vec_id") % CentroidStride === 0 &&
        col("vec_id") < CentroidStride.toLong * PqKsub)
      .select(col("vec_id"), subspaceCol(m))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).map(_._2).zipWithIndex
      .map { case (v, j) => (j.toLong, v) }.toSeq

  private val pqBooks = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], Seq[Seq[(Long, Seq[Double])]])]()

  /** Trained per-subspace PQ codebooks — [[trainCodebook]] run on each
    * sliced subspace (one bounded Lloyd refinement per subspace, k×dim
    * driver doubles of state), with [[codebookFor]]'s
    * fixed-while-grow-only lifecycle: the persisted codes are only
    * valid under the codebooks that wrote them, so grow-only corpora
    * serve the cached books and mutation retrains (+ the index
    * `extra` fingerprint forces the rebuild). */
  def pqCodebookFor(s: SparkSession, d: String): Seq[Seq[(Long, Seq[Double])]] = {
    // get/recompute/put outside the map lock (the codebookFor /
    // Dpp.peakThreshold shape): the 16-subspace Lloyd training is a
    // long multi-job Spark workload that must not run inside a
    // ConcurrentHashMap bin lock — and it CALLS codebookFor, so a
    // compute()-held bin could deadlock-by-reentrancy.
    val now = graft.sources.LocalIndex.dataManifest(
      Seq(s"$d/embeddings.parquet"))
    val cur = pqBooks.get(d)
    if (cur != null && cur._1.nonEmpty && cur._1.forall(now.contains)) {
      // CAS adopt (codebookFor's rule): never overwrite a concurrent
      // mutation-triggered retrain with the stale observed books
      if (cur._1 != now) pqBooks.replace(d, cur, (now, cur._2))
      cur._2
    } else {
      val cb = codebookFor(s, d)
      val res = Tables.embeddings(s, d)
        .withColumn("cid", nearestCentroid(cb, col("embedding")))
        .withColumn("embedding", residualCol(cb, col("cid")))
        .select(col("vec_id"), col("embedding"))
      val trained = (0 until PqSubspaces).map { m =>
        trainCodebook(
          res.select(col("vec_id"), subspaceCol(m).as("embedding")),
          seedSubCodebook(res, m))
      }
      pqBooks.put(d, (now, trained))
      trained
    }
  }

  /** The 16-nibble PQ code as a codegen'd column: one bounded
    * [[nearestCentroid]] argmin fold per subspace over the corpus
    * scan (of the RESIDUAL — the caller substitutes it into the
    * `embedding` column) — a pure map, same shape as the coarse
    * assignment. */
  def pqEncode(sub: Seq[Seq[(Long, Seq[Double])]]): Column =
    array((0 until PqSubspaces).map(m =>
      nearestCentroid(sub(m), subspaceCol(m)).cast("int")): _*)

  /** vq4's persisted index: same cell partitioning as a3/vq3 (cid
    * assigned on the full-precision vector, same coarse codebook —
    * identical probe sets), rows store ONLY vec_id + the 8-byte
    * residual code. Same grow-only append / codebook-change-rebuild
    * contract as the float and int8 indexes. */
  def ensureIvfPqIndex(s: SparkSession, d: String): String = {
    vectors.register(s)
    val cb = codebookFor(s, d)
    val sub = pqCodebookFor(s, d)
    def rows(df: DataFrame): DataFrame = df
      .withColumn("cid", nearestCentroid(cb, col("embedding")))
      .withColumn("embedding", residualCol(cb, col("cid")))
      .select(col("vec_id"), pqEncode(sub).as("code"), col("cid"))
    graft.sources.LocalIndex.ensureIncremental("ivf-pq-index", d,
      "_k" + NumCentroids + "m" + PqSubspaces,
      Seq(s"$d/embeddings.parquet"),
      extra = "cb:" + cb.hashCode + "#pq:" + sub.hashCode) { path =>
      rows(Tables.embeddings(s, d))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("cid").parquet(path)
    } { (newFiles, path) =>
      rows(s.read.parquet(newFiles: _*))
        .write.mode("append").option("compression", "zstd")
        .partitionBy("cid").parquet(path)
    }
  }

  /** The ADC lookup table for one query: lut(m)(j) = Σ_d (q_md −
    * c_mjd)². Driver doubles, embedded as literals in BOTH engines
    * (the trained-literal parity discipline — no cross-engine float
    * recompute), summed left-to-right on both sides. */
  def pqLut(sub: Seq[Seq[(Long, Seq[Double])]],
      qv: Seq[Double]): Seq[Seq[Double]] =
    (0 until PqSubspaces).map { m =>
      val qm = qv.slice(m * PqSubDim, (m + 1) * PqSubDim)
      sub(m).sortBy(_._1).map { case (_, cv) =>
        qm.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
      }
    }

  /** vq4: IVF-PQ serving — [[indexedIvfKnn]]'s coarse probe, an
    * asymmetric-distance (ADC) ranking over the 8-byte residual
    * codes, and the shared [[refineStage]]. The per-(query, cell)
    * lookup table ([[PqSubspaces]]×[[PqKsub]] driver doubles against
    * q − c_cell) rides the [[probeRows]] plan literal under its cell, so
    * ranking a probed row is 16 array lookups + 15 adds in
    * whole-stage codegen over a code 32× narrower than the float
    * vector — at 100 TB the ranking scan reads nprobe/nlist of a
    * 1/32-width corpus, and the refine's float bytes are
    * candidate-bounded. Deterministic end to end (trained books +
    * LUTs are shared literals; every rank ties-breaks on vec_id) →
    * exact DuckDB oracle replaying residual encode + ADC + refine
    * verbatim. */
  def ivfPqKnn(s: SparkSession, d: String, k: Int = K,
      nprobe: Int = NProbe,
      queryVecs: Seq[(Int, Seq[Double])] = querySet,
      rerankDepth: Int = PqRerankDepth,
      live: Boolean = false): DataFrame = {
    require(rerankDepth >= k, s"rerankDepth $rerankDepth < k $k")
    vectors.register(s)
    val cb = codebookFor(s, d)
    val sub = pqCodebookFor(s, d)
    val pqDir = ensureIvfPqIndex(s, d)
    // live: the quantizedIvfKnn rule — deletes filtered at the rank
    // scan, inherited by the candidate-bounded refine
    val idxRaw = Tables.loadLayout(s, pqDir)
    val idx = if (live)
      graft.sources.Tombstones.filterLive(s, pqDir, "vec_id")(idxRaw)
    else idxRaw
    // residual encoding makes the LUT CELL-specific: the stored code
    // reproduces x − c_cell, so the query side must look up distances
    // from q − c_cell — one LUT per (query, probed cell)
    val byCell = cellProbes(cb, queryVecs, nprobe)(pqResidualLut(cb, sub))
    val adc = (0 until PqSubspaces).map(m =>
      element_at(element_at(col("lut"), m + 1),
        col("code").getItem(m) + 1)).reduce(_ + _)
    // the LUT is dropped before the rank cut — see [[quantizedIvfKnn]]:
    // the rank exchange carries only (query_id, vec_id, qscore)
    val cand = twoPhaseCut(
      probeIndex(idx, "cid", "lut", byCell)
        .select(col("query_id"), col("vec_id"), adc.as("qscore")),
      "qscore", rerankDepth, queryVecs.size)
      .select(col("query_id"), col("vec_id"))
    refineStage(s, d, cand, queryVecs, byCell.keys.toSeq, k)
  }

  /** The [[pqLut]] of q − c_cell for a probed (query, cell): the
    * cell-specific ADC table of the residual codes. */
  private def pqResidualLut(cb: Seq[(Long, Seq[Double])],
      sub: Seq[Seq[(Long, Seq[Double])]]): (Seq[Double], Long) => Seq[Seq[Double]] = {
    val cmap = cb.toMap
    (qv, cid) => pqLut(sub, qv.zip(cmap(cid)).map { case (x, c) => x - c })
  }

  // ------------------------------------------------------------ oracles

  /** Parity assumption, shared by every float-scoring oracle here and
    * in [[Dedup.oracles]]: Spark's sequential left-to-right double
    * accumulation must match DuckDB's `list_inner_product` /
    * `list_cosine_similarity` / `list_distance` summation order at
    * decision boundaries (bucket sign flips, threshold cuts, argmin
    * ties). It does on the pinned harness DuckDB; a DuckDB that
    * switches to pairwise/SIMD accumulation would flip hard-boundary
    * cases. The query/plane vectors are exact binary fractions (k/64)
    * precisely to keep dot products representable and away from
    * boundaries. */
  private def a2Sql: String =
    s"""WITH queries(query_id, qbucket, qv) AS (VALUES ${
      sqlValues(querySet.flatMap { case (i, v) =>
        probeBuckets(bucketOf(v)).map(pb =>
          s"($i, $pb, ${VectorSearch.sqlArray(v)}::DOUBLE[])") })}),
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS e,
       |             ${bucketSql("embedding::DOUBLE[]")} AS bkt
       |      FROM embeddings)
       |SELECT query_id, vec_id, 1.0 - list_cosine_similarity(e, qv) AS score
       |FROM c JOIN queries ON bkt = qbucket
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
       |ORDER BY query_id, score, vec_id""".stripMargin

  /** The a3 centroid source, as SQL, for the codebook trained on THIS
    * corpus dir (keyed lookup, not a last-trained global: a JVM that
    * touches two corpora must not embed one corpus's centroids in the
    * other's oracle). With a trained codebook cached (the normal case:
    * Verify runs a3Query before dumping oracle_sql), the trained
    * values are embedded as literals — `Double.toString` is
    * shortest-round-trip, so DuckDB reparses the identical doubles.
    * Fallback (oracle dumped with no query run on this dir): the
    * untrained seed, derived in SQL exactly as [[seedCodebook]]
    * derives it. */
  private def centsSql(d: String): String = {
    val cb = Option(codebooks.get(d)).map(_._2).getOrElse(Nil)
    if (cb.nonEmpty)
      "cents(ccid, cv) AS (VALUES " + sqlValues(cb.map { case (cid, cv) =>
        s"($cid, ${VectorSearch.sqlArray(cv)}::DOUBLE[])" }) + ")"
    else
      s"""cents AS (
         |  SELECT vec_id AS ccid, embedding::DOUBLE[] AS cv FROM embeddings
         |  WHERE vec_id % $CentroidStride = 0
         |    AND vec_id < ${CentroidStride.toLong * NumCentroids})""".stripMargin
  }

  /** `def`, not `val`, and PER-DIR: a3's SQL depends on the codebook
    * trained by the queries that ran earlier in the same JVM against
    * this corpus dir (see [[codebookFor]]). */
  def oracles(d: String): Map[String, String] = Map(
    "a1_batch_knn" ->
      s"""WITH queries(query_id, qv) AS (VALUES $queriesValuesSql)
         |SELECT query_id, vec_id,
         |       1.0 - list_cosine_similarity(embedding::DOUBLE[], qv) AS score
         |FROM embeddings CROSS JOIN queries
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
         |ORDER BY query_id, score, vec_id""".stripMargin,
    "a2_lsh_ann" -> a2Sql,
    // *_indexed are physical-layout variants (persisted, partition-
    // pruned indexes); their RESULT contracts are identical to the
    // scan-side originals.
    "a2_indexed" -> a2Sql,
    "a3_indexed" -> a3Sql(d),
    "a3_delete_ann" -> a3DeleteSql(d),
    "a3_ivf_ann" -> a3Sql(d),
    "vq3_ivf_i8" -> vq3Sql(d),
    "vq3_delete" -> vq3DeleteSql(d),
    "vq4_ivfpq" -> vq4Sql(d),
  )

  /** vq3_delete oracle: [[vq3Sql]]'s two-stage replay with the pinned
    * forget set (a3DeleteSql's derivation — the FLOAT probe's
    * smallest-hash60 hits) excluded BEFORE the int8 candidate cut,
    * matching the live serve's filter-before-rank shape: ranks refill
    * from live candidates at both stages. */
  private def vq3DeleteSql(d: String): String =
    s"""WITH ${centsSql(d)},
         |sc AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
         |       FROM embeddings),
         |qz AS (SELECT vec_id, v,
         |         list_transform(v, x -> round(x / s) * s) AS dq FROM sc),
         |assigned AS (
         |  SELECT vec_id, v, dq, ccid AS cid FROM (
         |    SELECT q.vec_id, q.v, q.dq, c.ccid,
         |           list_distance(q.v, c.cv) AS cdist
         |    FROM qz q CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1),
         |queries(query_id, qv) AS (VALUES $queriesValuesSql),
         |qprobe AS (
         |  SELECT query_id, qv, ccid AS cid FROM (
         |    SELECT q.query_id, q.qv, c.ccid, list_distance(q.qv, c.cv) AS qdist
         |    FROM queries q CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY qdist, ccid) <= $NProbe),
         |fres AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, list_distance(v, qv) AS fscore
         |    FROM assigned JOIN qprobe USING (cid)
         |    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fscore, vec_id) <= $K)),
         |del AS (
         |  SELECT vec_id FROM (SELECT DISTINCT vec_id FROM fres)
         |  ORDER BY ${graft.functions.textops.hash60Sql("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT $DeleteN),
         |cand AS (
         |  SELECT query_id, qv, vec_id, v
         |  FROM assigned JOIN qprobe USING (cid)
         |  WHERE vec_id NOT IN (SELECT vec_id FROM del)
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY list_distance(dq, qv), vec_id) <= $RerankDepth)
         |SELECT query_id, vec_id, list_distance(v, qv) AS score
         |FROM cand
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
         |ORDER BY query_id, score, vec_id""".stripMargin

  /** vq4's oracle: encode (per-subspace argmin over the trained PQ
    * books, embedded as literals), ADC (the SAME driver-computed LUT
    * doubles as the Spark plan, summed left-to-right like the
    * expression tree), candidate cut, float refine — the two-stage
    * algorithm replayed verbatim. Fallback with no trained books:
    * formal only (a dir whose vq4 query never ran has no result to
    * compare — the a4-tree discipline). */
  private def vq4Sql(d: String): String = {
    val sub: Seq[Seq[(Long, Seq[Double])]] =
      Option(pqBooks.get(d)).map(_._2).getOrElse(
        (0 until PqSubspaces).map(_ =>
          (0 until PqKsub).map(j =>
            (j.toLong, Seq.fill(PqSubDim)(0.0)): (Long, Seq[Double])).toSeq))
    val pqCtes = (0 until PqSubspaces).map { m =>
      s"pq$m(scid, scv) AS (VALUES " +
        sqlValues(sub(m).sortBy(_._1).map { case (j, cv) =>
          s"($j, ${VectorSearch.sqlArray(cv)}::DOUBLE[])"
        }) + ")"
    }.mkString(",\n")
    val encCtes = (0 until PqSubspaces).map { m =>
      s"""e$m AS (
         |  SELECT vec_id, scid AS c$m FROM (
         |    SELECT q.vec_id, p.scid,
         |      list_distance(list_slice(q.r, ${m * PqSubDim + 1}, ${(m + 1) * PqSubDim}), p.scv) AS dd
         |    FROM assigned q CROSS JOIN pq$m p)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, scid) = 1)""".stripMargin
    }.mkString(",\n")
    // residual LUTs are (query, cell)-specific; only the cells the
    // driver-side probe selects get a row — the SQL-computed qprobe
    // must agree (the shared-argmin parity assumption; a divergence
    // drops the inner join and fails the gate loudly)
    val cb = Option(codebooks.get(d)).map(_._2).getOrElse(Nil)
    val lutRows = cellProbes(cb, querySet, NProbe)(pqResidualLut(cb, sub))
      .toSeq.flatMap { case (cid, qs) => qs.map { case (i, lut) => (i, cid, lut) } }
      .sortBy { case (i, cid, _) => (i, cid) }
      .map { case (i, cid, lut) =>
        s"($i, $cid, " + lut
          .map(l => s"[${l.mkString(", ")}]::DOUBLE[]").mkString(", ") + ")"
      }
    val lutCols = (0 until PqSubspaces).map(m => s"l$m").mkString(", ")
    val lutValues =
      if (lutRows.nonEmpty) lutRows.mkString(",\n  ")
      else { // formal fallback, untrained dir: one unusable row
        val zero = (0 until PqSubspaces)
          .map(_ => s"[${Seq.fill(PqKsub)(0.0).mkString(", ")}]::DOUBLE[]")
        s"(-1, -1, ${zero.mkString(", ")})"
      }
    val codeJoin = (1 until PqSubspaces)
      .map(m => s"JOIN e$m USING (vec_id)").mkString(" ")
    val adcExpr = (0 until PqSubspaces)
      .map(m => s"l.l$m[k.c$m + 1]").mkString(" + ")
    s"""WITH ${centsSql(d)},
       |sv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, v, ccid AS cid,
       |         list_transform(list_zip(v, cv), x -> x[1] - x[2]) AS r FROM (
       |    SELECT q.vec_id, q.v, c.ccid, c.cv, list_distance(q.v, c.cv) AS cdist
       |    FROM sv q CROSS JOIN cents c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1),
       |$pqCtes,
       |$encCtes,
       |codes AS (SELECT * FROM e0 $codeJoin),
       |queries(query_id, qv) AS (VALUES $queriesValuesSql),
       |qprobe AS (
       |  SELECT query_id, qv, ccid AS cid FROM (
       |    SELECT q.query_id, q.qv, c.ccid, list_distance(q.qv, c.cv) AS qdist
       |    FROM queries q CROSS JOIN cents c)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY qdist, ccid) <= $NProbe),
       |luts(query_id, cid, $lutCols) AS (VALUES $lutValues),
       |cand AS (
       |  SELECT query_id, qv, vec_id, v FROM (
       |    SELECT p.query_id, p.qv, a.vec_id, a.v, $adcExpr AS adc
       |    FROM assigned a JOIN qprobe p USING (cid)
       |      JOIN codes k ON k.vec_id = a.vec_id
       |      JOIN luts l ON l.query_id = p.query_id AND l.cid = a.cid)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) <= $PqRerankDepth)
       |SELECT query_id, vec_id, list_distance(v, qv) AS score
       |FROM cand
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
       |ORDER BY query_id, score, vec_id""".stripMargin
  }

  private def a3Sql(d: String): String =
    s"""WITH ${centsSql(d)},
         |assigned AS (
         |  SELECT vec_id, e, ccid AS cid FROM (
         |    SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.ccid,
         |           list_distance(v.embedding::DOUBLE[], c.cv) AS cdist
         |    FROM embeddings v CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1),
         |queries(query_id, qv) AS (VALUES $queriesValuesSql),
         |qprobe AS (
         |  SELECT query_id, qv, ccid AS cid FROM (
         |    SELECT q.query_id, q.qv, c.ccid, list_distance(q.qv, c.cv) AS qdist
         |    FROM queries q CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY qdist, ccid) <= $NProbe)
         |SELECT query_id, vec_id, list_distance(e, qv) AS score
         |FROM assigned JOIN qprobe USING (cid)
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
         |ORDER BY query_id, score, vec_id""".stripMargin

  /** a3's SQL with the pinned deletion replayed: `del` derives from
    * the ORIGINAL probe ranking (the gate's forget rule — smallest
    * hash60 among a3's own hits), and the final ranking RE-RANKS the
    * probed candidates with the set excluded, so the oracle checks the
    * refilled k-th ranks too, not just the survivors. */
  private def a3DeleteSql(d: String): String =
    s"""WITH ${centsSql(d)},
         |assigned AS (
         |  SELECT vec_id, e, ccid AS cid FROM (
         |    SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.ccid,
         |           list_distance(v.embedding::DOUBLE[], c.cv) AS cdist
         |    FROM embeddings v CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1),
         |queries(query_id, qv) AS (VALUES $queriesValuesSql),
         |qprobe AS (
         |  SELECT query_id, qv, ccid AS cid FROM (
         |    SELECT q.query_id, q.qv, c.ccid, list_distance(q.qv, c.cv) AS qdist
         |    FROM queries q CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY qdist, ccid) <= $NProbe),
         |res AS (
         |  SELECT query_id, vec_id, list_distance(e, qv) AS score
         |  FROM assigned JOIN qprobe USING (cid)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K),
         |del AS (
         |  SELECT vec_id FROM (SELECT DISTINCT vec_id FROM res)
         |  ORDER BY ${graft.functions.textops.hash60Sql("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT $DeleteN)
         |SELECT query_id, vec_id, list_distance(e, qv) AS score
         |FROM assigned JOIN qprobe USING (cid)
         |WHERE vec_id NOT IN (SELECT vec_id FROM del)
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
         |ORDER BY query_id, score, vec_id""".stripMargin

  /** a3's SQL with vq1/vq2's deterministic dequantize replayed on the
    * corpus side: cell ASSIGNMENT uses the full-precision vector (the
    * index assigns before quantizing), the CANDIDATE ranking uses
    * round(x/s)·s, and the final score re-ranks the top
    * [[RerankDepth]] candidates on the float vector — the refine
    * stage replayed verbatim. */
  private def vq3Sql(d: String): String =
    s"""WITH ${centsSql(d)},
         |sc AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
         |       FROM embeddings),
         |qz AS (SELECT vec_id, v,
         |         list_transform(v, x -> round(x / s) * s) AS dq FROM sc),
         |assigned AS (
         |  SELECT vec_id, v, dq, ccid AS cid FROM (
         |    SELECT q.vec_id, q.v, q.dq, c.ccid,
         |           list_distance(q.v, c.cv) AS cdist
         |    FROM qz q CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1),
         |queries(query_id, qv) AS (VALUES $queriesValuesSql),
         |qprobe AS (
         |  SELECT query_id, qv, ccid AS cid FROM (
         |    SELECT q.query_id, q.qv, c.ccid, list_distance(q.qv, c.cv) AS qdist
         |    FROM queries q CROSS JOIN cents c)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY qdist, ccid) <= $NProbe),
         |cand AS (
         |  SELECT query_id, qv, vec_id, v
         |  FROM assigned JOIN qprobe USING (cid)
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY list_distance(dq, qv), vec_id) <= $RerankDepth)
         |SELECT query_id, vec_id, list_distance(v, qv) AS score
         |FROM cand
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
         |ORDER BY query_id, score, vec_id""".stripMargin
}
