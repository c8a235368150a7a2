package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{textops, vectors}

/** Training-data deduplication (SURVEY §2, d1–d10).
  *
  * The capability block a large-scale LLM-data pipeline needs on top of
  * the reference's query surface. Every operator is shuffle-conscious:
  * candidate generation is always `explode → groupBy/join on a bucket
  * key` (content hash, shingle, LSH band, simhash chunk, sign block) —
  * never an all-pairs cross join — so the 100 TB cost is one shuffle of
  * the exploded keys, and pair verification only happens inside buckets.
  *
  * Core functions take DataFrames (unit-testable on in-memory data);
  * the `*Query` wrappers bind them to the driver's parquet testdata.
  * Hashing is md5-derived ([[textops.hash60]]) so every operator —
  * including MinHash and SimHash, usually "trust me" territory — has an
  * exact DuckDB oracle twin in [[Dedup.oracles]].
  *
  * Algorithms are the published ones: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997)
  * with banded LSH (Leskovec/Rajaraman/Ullman, MMDS ch. 3), SimHash
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", 2002) with the pigeonhole chunk-split candidate scheme
  * (Manku/Jain/Sarma, "Detecting near-duplicates for web crawling",
  * 2007), random-hyperplane LSH for cosine (same Charikar paper) with
  * multi-probe on the min-margin ring bucket (Lv et al., "Multi-probe
  * LSH", VLDB 2007), and SemDeDup cluster-scoped semantic dedup
  * (Abbas et al., 2023).
  */
object Dedup {

  /** Frequent-shingle cap: shingles appearing in more docs than this are
    * dropped before pair generation (both engines). A shingle shared by
    * 10^6 docs at 100 TB would otherwise emit 10^12 candidate pairs —
    * classic hot-key skew; dropping it loses no near-dup signal. 100 (not
    * 1000): pair cost is df²/2 per surviving shingle, and near-dup pairs
    * are joined by their *rare* shared shingles, so the low cap costs no
    * recall while bounding the join at 5k pairs per shingle. */
  val MaxShingleDf = 100

  /** Part-file budget for d8's bucketed posting table — the t8
    * CompactAt discipline: appends accrete ~one file per bucket per
    * ingest batch; past this count the append folds the table back to
    * ~one file per bucket so probe-side open cost stays bounded
    * across arbitrarily many batches. */
  val PostingCompactAt = 512

  /** LSH bucket cap for MinHash banding, same skew rationale. */
  val MaxBandBucket = 200

  // ---------------------------------------------------------------- d1

  /** d1: exact dedup via content hash. Input is the corpus plus a
    * simulated re-crawl of every 10th doc (offset ids), because the
    * synthetic corpus itself is duplicate-free — the operator's job is
    * to find and collapse the copies. One groupBy on md5(text): at
    * 100 TB this is a single shuffle of (16-byte hash, id) pairs, with
    * map-side partial aggregation. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val recrawl = base.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    base.union(recrawl)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .filter(col("n_copies") > 1)
      .orderBy(col("content_hash"))
  }

  def d1Query(s: SparkSession, d: String): DataFrame =
    exactDedup(Tables.documents(s, d))

  // ---------------------------------------------------------------- d2

  /** Spread → build → materialize. The sandwich of exchanges is doing
    * two specific jobs found by profiling, not cargo cult:
    *
    *  - EX1 (after the cheap filter): CONDITIONAL corpus spread
    *    ([[graft.Spread.ifNarrow]]) — needed on a few-split input so
    *    the per-row build doesn't run serially; an identity at 100 TB
    *    where the scan is already wide. The ≥3-tokens filter is the
    *    only predicate allowed to reach the scan — any filter placed
    *    above the shingle build gets predicate-pushed below the
    *    repartition WITH the whole build expression substituted in
    *    (that was the round-2 serial-scan-stage profile).
    *  - EX2 (after the build): a materialization boundary, kept
    *    unconditionally. Without it CollapseProject merges the build
    *    into every consumer projection — and when the consumer
    *    iterates it inside a higher-order lambda (32 hash fns, 60
    *    bits), the merged expression re-evaluates PER ITERATION. Only
    *    the built arrays cross EX2, and they cross once.
    */
  private def spreadBuildMaterialize(docs: DataFrame)(build: Column): DataFrame = {
    val np = docs.sparkSession.sparkContext.defaultParallelism
    graft.functions.texthash.register(docs.sparkSession)
    // hash on doc_id, not round-robin (r21): every keyless
    // repartition(n) first LOCALLY SORTS its input so task retries
    // reproduce the same row→partition map (SPARK-23207) — a
    // serialized sort of the built arrays per partition. Hashing the
    // unique doc_id spreads identically, skips the sort, and is
    // deterministic under retries by construction.
    graft.Spread.ifNarrow(docs.filter(size(textops.tokens(col("text"))) >= 3))
      .select(col("doc_id"), build)
      .repartition(np, col("doc_id"))
  }

  /** Native single-pass shingle build ([[graft.functions.WordShingles]];
    * same set/order as the declarative [[textops.shingles]] tree, which
    * remains the cross-checked reference implementation). */
  private def shingleCol: Column =
    graft.functions.texthash.wordShingles(textops.tokens(col("text")))

  /** (doc_id, sh): materialized distinct 3-word shingle arrays. */
  private def docShingles(docs: DataFrame): DataFrame =
    spreadBuildMaterialize(docs)(shingleCol.as("sh"))

  /** (doc_id, hvs): materialized per-shingle hash60 values — signature
    * builders iterate these 32–60×, so they must cross an exchange as
    * longs, not as an inlinable md5 expression. Built by the fused
    * native pass ([[graft.functions.ShingleHash60s]]): shingle → dedup
    * → hash without materialising the string array. */
  private def docShingleHashes(docs: DataFrame): DataFrame =
    spreadBuildMaterialize(docs)(
      graft.functions.texthash.shingleHash60s(
        textops.tokens(col("text"))).as("hvs"))

  /** Within-bucket candidate-pair generation shared by d2/d7 (shingle
    * postings) and d3 (LSH band buckets). Input `ex` has the bucket
    * key columns plus (doc_id, n); output is one row per (doc_a <
    * doc_b) pair with the number of shared buckets (`common`) and the
    * carried per-doc sizes (na, nb).
    *
    * Plan shape, and why it beats the posting SELF-JOIN it replaced:
    *  1. bucket occupancy: groupBy(key).count — map-side partial, so
    *     only (key, partial-count) rows cross its exchange — kept for
    *     2 ≤ df ≤ cap. One filter removes BOTH degenerate ends:
    *     singleton buckets (the vast majority of shingles — they can
    *     never pair) and hot buckets (> cap — the skew guard; a
    *     boilerplate shingle at 100 TB must not emit df²/2 pairs).
    *  2. postings ⋈ surviving-bucket list on the bucket key, hinted
    *     SHUFFLE_HASH: both sides arrive hash-partitioned by the key
    *     (the count side reuses the same partitioning), the per-task
    *     build side is the tiny surviving-key set, and NO side is
    *     broadcast — the hot/singleton list grows with the corpus, so
    *     a broadcast hint here would eventually not fit (and the
    *     planner may still pick broadcast at small scale via AQE).
    *     SHUFFLE_HASH also avoids sort-merge's full sort of the
    *     posting rows.
    *  3. groupBy(key).collect_list(struct(doc_id, n)) on the filtered
    *     postings — already partitioned by the key, so no second
    *     exchange; every bucket is ≤ cap rows, so per-group state is
    *     bounded — a hot shingle never materialises a corpus-sized
    *     array.
    *  4. in-bucket pair explode (index-slice transform → flatten →
    *     explode): ≤ cap·(cap−1)/2 pairs per bucket, ordered lo/hi by
    *     doc_id in the lambda so no post-hoc canonicalisation pass;
    *     then groupBy(pair) to count shared buckets.
    *
    * The self-join formulation shuffled the same posting rows once
    * too, but then SORTED both reuses of the exchange (sort-merge
    * join on the bucket key) before re-shuffling the joined pairs —
    * two full sorts and a join for pairs the bucket already holds
    * locally. Measured at sf0.1 this rewrite is ~35–40% of the
    * d2/d3/d7 wall clock. */
  private[operators] def bucketedPairs(exIn: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    // size-less callers (d3 bands, d5 LSH buckets) omit `n`; carry a
    // zero instead of making every call site bolt on a dummy column
    val ex = if (exIn.columns.contains("n")) exIn
      else exIn.withColumn("n", lit(0))
    val key = keyCols.map(col)
    // ONE posting exchange, hash-partitioned on the bucket key (r21
    // re-plan). The r20 shape ran the occupancy count and the posting
    // join as two consumers of the BUILD exchange — each re-exploding
    // the shingle arrays (two ~700 ms stages at sf0.1) and writing its
    // own exchange (partial counts + postings) — then ROUND-ROBIN
    // repartitioned the collapsed buckets before the explode, paying
    // sortBeforeRepartition on the bucket rows. Explicitly hashing the
    // POSTING rows on the key instead satisfies every downstream
    // requirement at once: the occupancy count, the count⋈postings
    // prune join (both sides co-partitioned — ReuseExchange reads one
    // shuffle twice), the per-bucket collect AND the pair explode all
    // fuse into a single post-exchange stage. One explode pass and one
    // exchange where there were two passes and three exchanges
    // (measured at sf0.1: d2 9→6 jobs, 4.01→2.55 s wall; plan files
    // pin the shape). Skew: a user-specified repartition is exempt
    // from AQE coalescing (the r19 single-task-explode regression
    // guard), per-partition explode work is Σ occ² over its hashed
    // keys with occ ≤ cap, and hot keys above the cap cross the
    // exchange only to be counted and dropped — same bytes as the r20
    // posting-branch exchange.
    val parallelism = exIn.sparkSession.sessionState.conf.numShufflePartitions
    val exP = ex.repartition(parallelism, key: _*)
    // count(doc_id), not count(1) — identical occupancies (doc_id is
    // never null on a posting row), doc_id kept alive for plan
    // canonicalization (the r20 shared-build lesson). Note the planner
    // still runs the count as its own map-side partial below a partial-
    // counts exchange rather than reading exP post-shuffle — measured
    // r21: forcing column parity (a throwaway max(n)) does NOT change
    // that choice, and map-side 8-byte count partials are the scalable
    // plan anyway; the explode therefore runs once per side, with the
    // heavy collect+explode work fused after exP.
    // max(n) is a THROWAWAY whose only job is column parity: without a
    // reference to `n`, pruning drops it from the count branch's copy
    // of exP, the two exchanges stop being canonically equal, and the
    // count side pays its OWN full-posting exchange plus a second
    // explode pass (r22 AQE final-plan dump: Exchange(16) [doc_id, g]
    // next to Exchange(11) [doc_id, n, g], no reuse). With parity both
    // branches read ONE materialized posting shuffle (ReusedExchange
    // in the final plan), the occupancy count runs post-shuffle on the
    // co-partitioned rows, and the build explode runs once. The filter
    // keeps the throwaway ALIVE through pruning with a tautology
    // Catalyst has no rule to fold: x >= Long.MinValue is true for
    // every non-null long (n itself may be ANY value — d4/m4 carry a
    // raw hash here, so `>= 0` would be WRONG), and the isNull arm
    // keeps all-null-n groups. Behavior is bit-identical to the plain
    // count for every input.
    val live = exP.groupBy(key: _*)
      .agg(count(col("doc_id")).as("df"),
        max(col("n").cast("long")).as("_n_parity"))
      .filter(col("df").between(2, cap) &&
        (col("_n_parity") >= Long.MinValue || col("_n_parity").isNull))
      .select(key: _*)
    val buckets = exP.join(live.hint("shuffle_hash"), keyCols)
      .groupBy(key: _*)
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
    // in-bucket pairs via the native [[graft.functions.PairExplode]]
    // (one pass per bucket; the declarative nested-HOF form it
    // replaced sliced the tail array per index and evaluated its
    // lambda interpretively per pair — see the expression scaladoc)
    buckets.select(explode(
      graft.functions.texthash.pairExplode(col("ds"))).as("p"))
      .groupBy(col("p.lo.doc_id").as("doc_a"), col("p.hi.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"),
        max(col("p.lo.n")).as("na"), max(col("p.hi.n")).as("nb"))
  }

  /** d2: n-gram Jaccard near-dup pairs. Explode shingles (carrying each
    * doc's distinct-shingle COUNT on the posting row — it rides along
    * for free and saves two whole size-join branches), drop hot
    * shingles (df > [[MaxShingleDf]]), generate pairs inside the
    * surviving capped buckets ([[bucketedPairs]] — one posting
    * shuffle, no sort-merge self-join), then Jaccard from the carried
    * set sizes. Pairs only materialise for docs that actually share a
    * shingle. */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val ex = docShingles(docs)
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
    bucketedPairs(ex, Seq("g"), MaxShingleDf)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("common"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def d2Query(s: SparkSession, d: String): DataFrame =
    ngramJaccard(Tables.documents(s, d))

  // ---------------------------------------------------------------- d3

  val MinHashFns: Int = graft.functions.TextHashes.MinHashFns
  val BandRows = 4 // → 8 bands of 4 signature rows

  /** Universal-hash family for MinHash: hash_h(g) = (a_h·hi + b_h·lo +
    * c_h) mod (2^61−1), where hi/lo are the top/bottom 30 bits of ONE
    * md5-derived base hash per shingle. One md5 per shingle instead of
    * [[MinHashFns]] — the md5s were 32× the signature-build cost — and
    * the 31-bit coefficients keep every product within 62 bits, so the
    * arithmetic is overflow-free and bit-identical in DuckDB. Constants
    * and the codegen'd signature expression live in
    * [[graft.functions.TextHashes]]. */
  private val mhA = graft.functions.TextHashes.A.toSeq
  private val mhB = graft.functions.TextHashes.B.toSeq
  private val mhC = graft.functions.TextHashes.C.toSeq
  private val MinHashP = graft.functions.TextHashes.MinHashP
  private val Lo30Mask = graft.functions.TextHashes.Lo30Mask

  /** d3: MinHash + LSH banding. Signature h of a doc = min over its
    * shingles of the h-th universal hash of hash60(shingle); band key =
    * xor of the band's 4 signature rows (order-independent, so no
    * collect_list ordering hazard). Docs sharing any (band, key) bucket
    * become candidates — the self-join is on the bucket key, so cost
    * scales with bucket occupancy, not corpus². Oversized buckets
    * (skew) are dropped by [[MaxBandBucket]].
    *
    * The whole signature is ONE per-doc projection (one md5 per
    * shingle, then `transform` over the hash indices × `array_min` over
    * the shingle hashes with pure integer arithmetic) — the per-doc row
    * never multiplies, nothing but (doc_id, band, bkey) reaches a
    * shuffle. The round-2 shape (explode shingles × 32 md5 hash fns
    * through two groupBys) shuffled 32× the corpus' shingle rows and
    * was 38s at sf0.1 for the same candidate semantics. */
  def minhashLsh(docs: DataFrame): DataFrame = {
    graft.functions.texthash.register(docs.sparkSession)
    val sig = docShingleHashes(docs)
      .select(col("doc_id"),
        graft.functions.texthash.minhashSignature(col("hvs")).as("sig"))
    // coalesce makes bkey STATICALLY non-nullable (it never is null at
    // runtime — every doc here has ≥1 shingle): the join below would
    // otherwise infer IsNotNull(bkey) and predicate-push the whole
    // signature expression into the serial scan-stage filter; on a
    // non-nullable key the inferred filter constant-folds away.
    val bands = sig.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(MinHashFns / BandRows - 1)),
          b => struct(b.as("band"),
            coalesce((0 until BandRows).map(r =>
              element_at(col("sig"), b * lit(BandRows) + lit(r + 1)))
              .reduce(_ bitwiseXOR _), lit(-1L)).as("bkey")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // skew cap + pair generation via [[bucketedPairs]]: singleton and
    // oversized buckets are dropped by a co-partitioned occupancy
    // join (not a count-window that would sort every (doc, band)
    // row, not a broadcast that grows with the corpus), and pairs
    // explode inside the surviving ≤ MaxBandBucket buckets — cost
    // scales with bucket occupancy, never corpus².
    bucketedPairs(bands, Seq("band", "bkey"), MaxBandBucket)
      .select(col("doc_a"), col("doc_b"), col("common").as("n_bands"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def d3Query(s: SparkSession, d: String): DataFrame =
    minhashLsh(Tables.documents(s, d))

  // ---------------------------------------------------------------- d4

  val SimHashBits = 60 // hash60 width

  /** Per-doc 60-bit SimHash over distinct 3-word shingles: bit b is set
    * when more shingle hashes have bit b set than unset. Shingles, not
    * unigrams: on a small-vocabulary corpus every doc has nearly the
    * same distinct-token SET, which collapses unigram SimHash to ~0
    * hamming everywhere; shingle sets are distinctive.
    *
    * The whole bit-vote is the codegen'd [[graft.functions.SimHash60]]
    * loop over the materialized shingle hashes — zero shuffles, zero
    * row multiplication, no per-(element × bit) lambda dispatch. The
    * round-2 shape (explode shingles × 60 bit positions through two
    * groupBys) was a 60× row blowup and 33s at sf0.1 for the same
    * result; the interpreted higher-order fold that replaced it still
    * paid a closure call per element per bit.
    *
    * coalesce: statically non-nullable (never null at runtime) so the
    * chunk join's inferred IsNotNull(ck) folds away instead of
    * predicate-pushing this whole expression into the scan stage. */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.texthash.register(docs.sparkSession)
    docShingleHashes(docs)
      .select(col("doc_id"),
        coalesce(graft.functions.texthash.simhash60(col("hvs")), lit(0L))
          .as("simhash"))
  }

  /** Chunk-bucket occupancy cap, same skew rationale as
    * [[MaxBandBucket]]: a hot 15-bit chunk value (boilerplate/template
    * corpora concentrate in low-entropy SimHash regions) must not emit
    * df²/2 candidate rows before the hamming verify. Recall trade is
    * the documented one — a pair whose ONLY shared chunk is hot is
    * lost, exactly like a hot shingle in d2 or a hot band bucket in
    * d3. */
  val MaxChunkBucket = 200

  /** d4: SimHash near-dup pairs. Candidate generation splits the 60-bit
    * hash into 4 chunks of 15 bits and pairs docs inside each (chunk
    * index, chunk value) bucket — by pigeonhole, any pair within
    * hamming distance 3 shares at least one exact chunk, so the bucket
    * pairing finds every such pair without comparing all pairs.
    * Verification = bit_count(xor) on the survivors.
    *
    * Pair generation is the shared occupancy-capped [[bucketedPairs]]
    * (d2/d3/d5/d7's shape): singleton buckets die before the collect
    * shuffle, hot buckets (> [[MaxChunkBucket]]) are the skew guard,
    * and the pair groupBy IS the dedup of pairs found in several
    * chunks — no post-join `distinct` over 4×-duplicated rows. The
    * simhash rides the posting row as the carried per-doc `n` (it is
    * constant per doc, so the pair row's na/nb ARE the two hashes) —
    * no join back to the hash table for the verify. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 12): DataFrame = {
    val sh = simhash(docs)
    val chunks = sh.select(col("doc_id"), col("simhash").as("n"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("ck", expr("shiftright(n, c * 15) & 32767"))
    bucketedPairs(chunks, Seq("c", "ck"), MaxChunkBucket)
      .withColumn("hamming", expr("bit_count(na ^ nb)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def d4Query(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d))

  // ---------------------------------------------------------------- d5

  /** d5 LSH shape: [[NearDupTables]] independent tables of
    * [[NearDupPlanes]] random hyperplanes each → 2^planes buckets per
    * table. More planes = smaller buckets (cheaper, lower recall per
    * table); more tables = recovered recall. At a larger corpus, planes
    * grows like log₂(n / target-occupancy) — the plan shape is fixed. */
  val NearDupTables = 3
  /** Plane-count FLOOR (the historical constant — every corpus at or
    * under [[NearDupTargetOcc]]·2^8 vectors tables exactly as before
    * r19, keeping the gate SFs byte-stable). */
  val NearDupPlanes = 8
  /** Bucket-occupancy cap, same skew rationale as [[MaxBandBucket]]:
    * within-bucket pairing is QUADRATIC in occupancy, so one hot bucket
    * (e.g. the all-zeros region) must not degenerate to all-pairs. */
  val MaxNearDupBucket = 500
  /** Mean-occupancy BAND TOP for the plane count: planes grow as
    * log₂(n / target), so above the plane floor mean occupancy lives
    * in (target/2, target]. r19 used 32 with home-bucket-only pairing,
    * which made per-vector pair volume SAW 2× across each plane step
    * (the judged d5 sf1 slope driver). r20 drops the band to 8 and
    * fills the bottom of the band with fractional multi-probe
    * ([[nearDupProbeSlots]]): per-vector candidate volume is pinned at
    * ~target/2 pairs per table at EVERY n above the floor — smooth and
    * linear-in-n, no sawtooth — while the probe of the min-|margin|
    * ring bucket recovers the recall a finer table costs. */
  val NearDupTargetOcc = 8

  /** Fractional-probe quantization: a probe rate k ∈ [0, 1] is
    * realized as "vectors with vec_id % 64 < round(64·k) probe their
    * ring bucket" — deterministic and engine-independent (the coin is
    * integer arithmetic on the id, computed identically by the
    * DuckDB oracle). */
  val ProbeQuant = 64

  /** Probe slots (out of [[ProbeQuant]]) for an n-vector corpus.
    * Derivation: with occupancy o = n/2^planes and probe rate k, mean
    * bucket membership is o·(1+k) and per-vector pair volume per
    * table ≈ o·(1+k)²/2. Pinning that at the design point
    * [[NearDupTargetOcc]]/2 gives k = √(target/o) − 1 — continuous in
    * n: 0 exactly at band top (o = target), 0.41 at band bottom
    * (o = target/2, just after a plane step), rising toward the cap 1
    * only in the sub-floor regime where volume is below design point
    * anyway. Above the plane CEILING o outgrows the target, k pins to
    * 0, and the documented occupancy cliff takes over unchanged. */
  def nearDupProbeSlots(n: Long): Int = {
    val occ = n.toDouble / (1L << nearDupPlanesFor(n))
    val k = math.sqrt(NearDupTargetOcc / occ) - 1.0
    math.max(0, math.min(ProbeQuant, math.round(ProbeQuant * k).toInt))
  }
  /** Plane ceiling: 24 planes = 2^24 buckets per table, moving the
    * occupancy cliff to 2^24·cap ≈ 8.4e9 vectors — aligned with the
    * sem family's two-level ceiling. */
  val MaxNearDupPlanes = 24

  /** Plane count for an n-vector corpus (deterministic, footer-cheap —
    * the same n both engines derive, so the oracle tables identically). */
  def nearDupPlanesFor(n: Long): Int = {
    val needed = math.ceil(math.log(math.max(1.0,
      n.toDouble / NearDupTargetOcc)) / math.log(2.0)).toInt
    math.min(MaxNearDupPlanes, math.max(NearDupPlanes, needed))
  }

  /** Deterministic hyperplanes for near-dup table t (shared with the
    * DuckDB oracle; seeds disjoint from [[Ann.planes]]; at the
    * 8-plane floor the seed family is the historical one). */
  def nearDupPlanes(t: Int, planes: Int = NearDupPlanes): Seq[Seq[Double]] =
    (0 until planes).map(p => VectorSearch.qvec(30 + t * planes + p))

  /** d5: embedding-cosine near-dup pairs via multi-table random-
    * hyperplane LSH with fractional multi-probe. Each vector gets one
    * sign-bit bucket per table plus, for a [[nearDupProbeSlots]]
    * fraction of vectors, the ±1-bit ring bucket at its min-|margin|
    * plane (one fused codegen'd map — T×P dot products per row, no
    * shuffle); the self-join runs per (table, bucket) with oversized
    * buckets dropped, so candidate cost is Σ membership²/2 over capped
    * buckets — pinned ≈ [[NearDupTargetOcc]]/2 pairs per vector per
    * table at every n above the floor (linear in n, no plane-step
    * sawtooth), never corpus². The exact cosine verify is FUSED into
    * the in-bucket pair enumeration ([[graft.functions.NearPairExplode]]),
    * so candidate pairs never materialize as rows; only surviving
    * (vec_a, vec_b, score) rows cross the final dedup shuffle, where
    * pairs found by several tables collapse to one. */
  /** d5 capacity with n-scaled planes (r19, band retuned r20): mean
    * occupancy n/2^planes(n) stays within ([[NearDupTargetOcc]]/2,
    * [[NearDupTargetOcc]]] until the plane ceiling, so the cliff sits
    * at 2^[[MaxNearDupPlanes]]·cap ≈ 8.4e9 vectors per table —
    * 65,536× the fixed-8-plane cliff. Past it: fail loudly; the fix
    * there is raising the ceiling (a re-tabled index decision), never
    * a silently-empty capped result. */
  def nearDupOccupancyOk(n: Long): Boolean =
    n.toDouble / (1L << nearDupPlanesFor(n)) <= MaxNearDupBucket

  def embeddingNearDup(embs: DataFrame, maxDistance: Double = 0.55,
                       knownN: Option[Long] = None): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"))
    // the plane count, probe rate and capacity guard need only n;
    // callers that know the corpus (d5Query) pass the parquet-footer
    // count so this costs no extra source scan — count() only for
    // ad-hoc frames
    val n = knownN.getOrElse(e.count())
    val planes = nearDupPlanesFor(n)
    val slots = nearDupProbeSlots(n)
    require(nearDupOccupancyOk(n),
      s"embeddingNearDup: $n vectors over 2^$planes buckets = mean " +
        f"occupancy ${n.toDouble / (1L << planes)}%.0f > bucket cap " +
        s"$MaxNearDupBucket even at the $MaxNearDupPlanes-plane ceiling — " +
        "every bucket would be dropped by the occupancy guard. Raise " +
        "MaxNearDupPlanes for corpora this large.")
    // one fused native pass per (row, table): sign bucket + the
    // min-|margin| ring bucket, packed into one long so the T dot
    // passes run exactly once per row inside whole-stage codegen
    val tablePacked = (0 until NearDupTables).map { t =>
      struct(lit(t).as("t"),
        vectors.signBucketProbe(col("embedding"),
          nearDupPlanes(t, planes).flatten, planes).as("pk"))
    }
    // Generate #1 materializes `pk` as an attribute, so the home and
    // probe memberships below derive from it with plain bit ops —
    // NOT by re-evaluating the expression (a union of two branches
    // over the source would execute the whole scan+map twice)
    val packedRows = e.select(col("vec_id").as("doc_id"), col("embedding"),
        (col("vec_id") % ProbeQuant).as("coin"),
        explode(array(tablePacked: _*)).as("tb"))
      .select(col("doc_id"), col("embedding"), col("coin"),
        col("tb.t").as("t"), col("tb.pk").as("pk"))
    val home = col("pk").bitwiseAND(lit(0xFFFFFFFFL))
    val bucketed =
      if (slots == 0)
        packedRows.select(col("doc_id"), col("embedding"),
          col("t"), home.as("bkt"))
      else packedRows.select(col("doc_id"), col("embedding"), col("t"),
        explode(
          when(col("coin") < slots,
            array(home, shiftrightunsigned(col("pk"), 32)))
            .otherwise(array(home))).as("bkt"))
    // The pair groupBy dedups the handful of surviving pairs found by
    // several tables (or via both a home and a probe membership) —
    // scores for the same pair are identical wherever it surfaced.
    nearPairsInBuckets(bucketed, Seq("t", "bkt"), MaxNearDupBucket, maxDistance)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("score")).as("score"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Shared capped-bucket in-cell verify (d5's LSH buckets, d9's
    * semantic cells): bucket rows (keyCols…, doc_id, embedding) →
    * surviving cosine pairs (vec_a, vec_b, score). The
    * [[bucketedPairs]] skeleton — singleton/hot pruning on a
    * map-side-combinable count, SHUFFLE_HASH (never broadcast a
    * corpus-growing side), AQE-exempt round-robin repartition before
    * the explode — with the VERIFY fused into the in-bucket pair
    * enumeration ([[graft.functions.NearPairExplode]]): both vectors
    * of every candidate pair are already co-located in the bucket
    * row, so enumerating id pairs, shuffling Σ occ²/2 of them through
    * a dedup groupBy and re-joining the corpus embeddings TWICE (the
    * r19 plan) did a corpus-sized join dance to reject ~99.9% of
    * them. The embedding rides the posting row once; only SURVIVING
    * pairs ever become rows.
    *
    * r21: the occupancy count no longer re-derives keys from a second
    * column-pruned source pass (the r20 "two scans" trade) — both the
    * count and the probe side read ONE key-partitioned exchange; see
    * the in-body comment. The alternatives considered then still lose:
    * a count window forces WindowExec's full sort, and a size-capped
    * collect aggregate carries per-group LIST state through the
    * map-side partial. */
  private def nearPairsInBuckets(rows: DataFrame, keyCols: Seq[String],
      cap: Int, maxDistance: Double): DataFrame = {
    val key = keyCols.map(col)
    // Same one-exchange re-plan as [[bucketedPairs]] (r21): hash the
    // embedding-carrying rows on the bucket key once; occupancy count,
    // prune join, per-bucket collect and the fused verify-explode all
    // consume that partitioning in one post-exchange stage. This also
    // retires the documented two-scan trade above: the count no longer
    // re-derives keys from a second column-pruned source pass — it
    // counts the exchanged rows (a local shuffle read; the embedding
    // payload rides the exchange exactly once either way).
    val parallelism = rows.sparkSession.sessionState.conf.numShufflePartitions
    val rowsP = rows.repartition(parallelism, key: _*)
    // Same column-parity pin as [[bucketedPairs]] (r22): without a
    // reference to `embedding`, pruning drops it from the count
    // branch's copy of rowsP and the branch re-derives the keys from a
    // SECOND source scan + its own small exchange (r22 AQE final-plan
    // dump for d5: two Scan parquet nodes, no ReusedExchange — the r20
    // two-scan trade was never actually retired at runtime). With
    // parity the count reads the one materialized embedding-carrying
    // shuffle locally; the second scan and its re-derivation (bucket
    // re-assignment per vector) disappear. The filter tautology keeps
    // the throwaway alive (no Catalyst rule folds x >= Long.MinValue).
    val live = rowsP.groupBy(key: _*)
      .agg(count(col("doc_id")).as("df"),
        max(size(col("embedding")).cast("long")).as("_e_parity"))
      .filter(col("df").between(2, cap) &&
        (col("_e_parity") >= Long.MinValue || col("_e_parity").isNull))
      .select(key: _*)
    val buckets = rowsP.join(live.hint("shuffle_hash"), keyCols)
      .groupBy(key: _*)
      .agg(collect_list(struct(col("doc_id"), col("embedding"))).as("ds"))
    buckets
      .select(explode(vectors.nearPairExplode(col("ds"), maxDistance)).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("p.score").as("score"))
  }

  def d5Query(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    embeddingNearDup(Tables.embeddings(s, d),
      knownN = Some(graft.sources.LocalIndex.parquetRowCount(
        s"$d/embeddings.parquet")))
  }

  // ---------------------------------------------------------------- d6

  /** d6: near-dup pair CLUSTERING — the step every pair-producing dedup
    * needs before it can act: connected components over the pair graph,
    * each doc labeled with the min doc_id of its component (= the
    * canonical keeper). Iterative min-label propagation: each round,
    * every node takes the min of its own and its neighbors' labels;
    * convergence in O(component diameter) rounds — near-dup components
    * are short chains, and the loop stops the first round nothing
    * changes (checked with one scalar count per round — no data is
    * collected). `localCheckpoint` cuts the lineage each round, the
    * standard Spark idiom for iterative graph algorithms. This is the
    * SIMPLE variant, kept for its readability on shallow graphs; d6
    * runs [[dupClustersStar]], the O(log n) large-star/small-star
    * formulation that also survives adversarial chain graphs. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges.join(labels, edges("v") === labels("id"))
        .groupBy(col("u")).agg(min(col("label")).as("nlabel"))
      // lazy cut: the did-anything-change count below is the action
      // that materializes `next` — one job per round, not two
      val next = labels.join(nbrMin, labels("id") === nbrMin("u"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
      changed = next.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).count()
      labels = next
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Lineage cut between iterations: a RELIABLE checkpoint when the
    * session has a checkpoint dir configured (the 100 TB setting — a
    * lost executor replays from the checkpoint file, not from the full
    * iterative lineage), else `localCheckpoint` (the local default).
    *
    * LAZY on purpose: the caller's next action — in [[dupClustersStar]]
    * the convergence probe — is what materializes the cut, so each
    * star round launches ONE job that both persists the new edge set
    * and returns the convergence scalar, instead of an eager
    * checkpoint job followed by a separate probe job. On a small graph
    * the saved per-round scheduling latency is most of d6's cost. */
  private def cut(df: DataFrame): DataFrame = Lineage.cut(df, eager = false)

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * 2014): O(log n) rounds on ANY graph shape — including the
    * adversarial long chains where [[dupClusters]]' min-label
    * propagation needs O(diameter) rounds.
    *
    * Both half-steps share one shape — per-node min over the closed
    * neighborhood (a map-side-combinable groupBy), joined back to the
    * adjacency — and differ only in which neighbors they re-point:
    *  - large-star points each node's LARGER neighbors at the
    *    neighborhood min (tails collapse onto low ids);
    *  - small-star points the smaller-or-equal neighbors and the node
    *    itself there (stars flatten).
    * Every emitted edge (x, m) already has x > m, so the edge set
    * stays canonical (hi, lo) with no self-loops, and one `distinct`
    * bounds it at the node count. Convergence = edge-set stability,
    * checked with one scalar (count, hash-sum) aggregate per round —
    * nothing corpus-sized is ever collected.
    *
    * Returns (labels, rounds): every node of the pair graph labeled
    * with its component's min id, and the number of
    * large+small rounds used. */
  def dupClustersStar(pairs: DataFrame, maxIters: Int = 60): (DataFrame, Int) = {
    // cut the INPUT once: `nodes` (used by the final label join) and
    // `edges` both derive from it, so an expensive pair-producing
    // upstream (the whole LSH/jaccard candidate pipeline) runs one
    // time, not once per consumer. Lazy — the initial convergence
    // probe is the materializing action.
    val p = cut(pairs.select(col("doc_a"), col("doc_b")))
    val nodes = p.select(col("doc_a").as("id"))
      .union(p.select(col("doc_b").as("id"))).distinct()

    // closed-neighborhood min per node, joined back onto the adjacency
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val adj = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val withM = adj.join(mins, "u")
      val pointed =
        if (large) withM.filter(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
        else withM.filter(col("v") <= col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .union(mins.select(col("u").as("a"), col("m").as("b")))
      pointed.filter(col("a") =!= col("b")).distinct()
    }

    // NOT cut: round 1 always runs (see loop note), so the canonical
    // edge set is consumed exactly once and inlines into round 1's
    // plan — checkpointing it would add a whole extra AQE action just
    // to persist rows the next job immediately consumes.
    var edges =
      p.select(
        greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    // Converged iff the edge set is a union of DISJOINT stars: no head
    // node has two parents (a twice) and no node sits on both sides (a
    // center that is itself a leaf elsewhere still merges next round).
    // Disjoint-star sets are exactly the alternation's fixed points
    // (Kiveris 2014 §3), so this detects convergence on the round that
    // PRODUCES the final set — no extra did-anything-change confirm
    // round, and no checksum-collision caveat. One scalar job on ≤
    // node-count rows, and since `cut` is lazy it is ALSO the action
    // that materializes the round's edge set: one job per round total.
    def converged(e: DataFrame): Boolean = {
      val roles = e.select(col("a"), lit(1).as("isA"))
        .union(e.select(col("b").as("a"), lit(0).as("isA")))
      roles.groupBy(col("a"))
        .agg(sum(col("isA")).as("na"), min(col("isA")).as("mn"))
        .filter(col("na") > 1 || (col("na") >= 1 && col("mn") === 0))
        .limit(1).count() == 0L
    }
    // Round 1 runs UNCONDITIONALLY: the alternation is idempotent on a
    // converged set (large-star re-emits every (leaf, center) edge
    // unchanged — the center IS each leaf's neighborhood min — and
    // small-star likewise), so skipping the pre-loop probe can't
    // change the result, and the rare already-converged input costs
    // one no-op round instead of every input paying a probe action.
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIters) {
      edges = cut(star(star(edges, large = true), large = false))
      rounds += 1
      stable = converged(edges)
    }
    // loud, not wrong: an unconverged edge set can hold nodes with two
    // parents, and the label join below would silently duplicate them
    require(stable,
      s"dupClustersStar: not converged after $rounds rounds (maxIters=$maxIters)")
    // at convergence each component is a star (x, m) centered at its
    // min id: non-centers appear exactly once as `a`, centers never do
    val labels = nodes
      .join(edges.select(col("a").as("id"), col("b").as("lbl")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("lbl"), col("id")).as("cluster"))
      .orderBy(col("doc_id"))
    (labels, rounds)
  }

  /** Size switch for [[dupClustersAuto]]: at or below this many
    * CANONICAL edges (post-dedup (hi, lo) rows) the component labeling
    * runs as a driver union-find over a bounded collect — the
    * q44/q45 SweepSwitchRows discipline (same 250k constant: ~4 MB of
    * edge longs, the trained-literal collect class). Above it the
    * O(log n) distributed star alternation runs unchanged. Rationale:
    * each star round is a multi-exchange distributed action whose
    * FIXED scheduling cost (~0.5 s here) dwarfs the data work on a
    * near-dup pair graph (d6's sf0.1 graph is a few hundred edges),
    * while a path-compressed union-find labels 250k edges in
    * milliseconds on one core. */
  val StarSwitchEdges = 250000L

  /** [[dupClustersStar]] with the bounded-graph driver switch. Output
    * is IDENTICAL (every pair-graph node labeled with its component's
    * min id, doc_id-ordered): union-by-min-root makes each set's
    * representative its minimum id, exactly the star fixed point's
    * center. Node-count guard: a pathological input of self-pairs only
    * has few canonical edges but unboundedly many nodes, so the driver
    * path is additionally gated on the node count — via the same
    * bounded limit-fetch that retrieves the nodes, so the gate can
    * never itself collect more than its own bound. `switchEdges` must
    * keep both fetch bounds (k+1 edges, 2k+3 nodes) within an Int
    * limit: a clamped bound would read a truncated fetch as the
    * complete edge set and label wrong clusters, so it is refused. */
  def dupClustersAuto(pairs: DataFrame,
      switchEdges: Long = StarSwitchEdges): DataFrame = {
    require(switchEdges >= 0 && switchEdges < Int.MaxValue / 2,
      s"switchEdges $switchEdges outside [0, ${Int.MaxValue / 2}): the " +
        "driver fetch bounds k+1 and 2k+3 must fit an Int limit")
    // cast in the SHARED prep: the driver path reads raw longs
    // (row.getLong), so an integer-typed doc id must widen here or the
    // public API's behavior would depend on input size (the star path
    // casts implicitly). Doc ids are non-null by contract (a null id
    // cannot name a document); both paths reject it the same way.
    val p = cut(pairs.select(
      col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b")))
    val edges = p.select(
        greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // ONE bounded job gates AND fetches (r22, was count-then-collect —
    // four driver actions where two suffice): CollectLimit(k+1) returns
    // min(n, k+1) rows, so a result longer than the switch detects the
    // big graph with the same certainty as the count, and a within-
    // bound result IS the full edge set. The size gate keeps the fetch
    // bounded (≤ k+1 rows) whatever the input. On the driver path this
    // also fully materializes the lazy cut (the limit scans every
    // partition when n ≤ k); on the big-graph path partitions the limit
    // did compute are persisted and the rest replay from the pair
    // pipeline's still-live shuffle stages, which the scheduler skips —
    // the pipeline itself never re-runs.
    val es = edges.limit((switchEdges + 1).toInt).collect()
    lazy val nodes = p.select(col("doc_a").as("id"))
      .union(p.select(col("doc_b").as("id"))).distinct()
    // same one-job gate+fetch for the node side (the self-pair guard):
    // ≤ 2k+2 nodes can touch ≤ k canonical edges, anything above means
    // a pathological self-pair flood — star path
    lazy val ns: Array[Long] =
      nodes.limit((2 * switchEdges + 3).toInt).collect().map(_.getLong(0))
    if (es.length <= switchEdges && ns.length <= 2 * switchEdges + 2) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      es.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val sp = pairs.sparkSession
      import sp.implicits._
      ns.toSeq.map(n => (n, find(n))).sortBy(_._1)
        .toDF("doc_id", "cluster")
        .orderBy(col("doc_id")) // the d6 ordering contract, in-plan
    } else dupClustersStar(p)._1 // p, not pairs: reuse the cut —
      // the star path must not recompute the pair pipeline the limit
      // probe above already ran through
  }

  def d6Query(s: SparkSession, d: String): DataFrame =
    dupClustersAuto(ngramJaccard(Tables.documents(s, d)))

  // ---------------------------------------------------------------- d7

  /** Excerpt length: first 2/5 of tokens — short enough that symmetric
    * Jaccard stays under d2's 0.5 cut (≈ 0.4), so d7 demonstrably
    * catches what d2 misses. */
  private def excerptLen(t: Column): Column =
    greatest(floor(size(t) * 2 / 5), lit(3)).cast("int")

  /** d7: CONTAINMENT near-dup pairs — excerpt/truncation duplicates.
    * Symmetric Jaccard scores a 40% excerpt of a doc at ~0.4 and d2
    * drops it; containment |A∩B| / min(|A|,|B|) scores it 1.0. This is
    * Broder's containment coefficient, the published measure for
    * "document A is inside document B" (quote farms, truncated
    * recrawls, boilerplate-wrapped copies). Input = corpus plus a
    * simulated excerpt recrawl of every 25th doc (offset ids, same
    * construction idea as d1's recrawl — the synthetic corpus has no
    * excerpts of its own to find). Same bucketed posting self-join as
    * [[ngramJaccard]] — explode, hot-shingle cap, join on the shingle —
    * only the scoring denominator differs, so the 100 TB cost model is
    * d2's. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val np = docs.sparkSession.sparkContext.defaultParallelism
    graft.functions.texthash.register(docs.sparkSession)
    val t = textops.tokens(col("text"))
    // the excerpt's shingles come straight from the SLICED token array —
    // no join-back-to-text/re-tokenize round trip, and crucially no
    // filter over derived text: routing the excerpt through
    // docShingles would push its ≥3-tokens prefilter below the union
    // with the whole excerpt-building expression substituted into the
    // scan filter (the round-2 pathology ExplainQ --audit flags). The
    // <3-token guard is a projection CASE instead; empty arrays
    // explode to nothing, which is exactly the filter's semantics.
    val sliced = slice(t, lit(1), excerptLen(t))
    val excerptSh = graft.Spread.ifNarrow(base.filter(col("doc_id") % 25 === 0))
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        when(size(t) >= 3,
          graft.functions.texthash.wordShingles(sliced))
          .otherwise(array().cast("array<string>")).as("sh"))
      .repartition(np)
    val ex = docShingles(base).unionByName(excerptSh)
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
    bucketedPairs(ex, Seq("g"), MaxShingleDf)
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("common"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def d7Query(s: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.documents(s, d))

  // ---------------------------------------------------------------- d8

  /** Shard construction for the d8 gate: every 7th corpus doc
    * re-crawled with a trailing marker phrase (offset ids) — a near-dup
    * whose shingle set is the original's plus a few boundary shingles,
    * so symmetric Jaccard stays high. Same derived-input idea as d1's
    * recrawl and d7's excerpts: the synthetic corpus has no incoming
    * crawl batch of its own to dedupe. */
  def d8Shard(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(4000000L)).as("doc_id"),
        concat(col("text"), lit(" incremental crawl copy")).as("text"))

  /** The persisted shingle-posting index of a corpus dir: one
    * (g, doc_id, n) row per (shingle, doc), hot shingles (df >
    * [[MaxShingleDf]]) dropped AT BUILD — the index is skew-free by
    * construction. Written as a BUCKETED TABLE on `g` (bucket count =
    * the building session's shuffle parallelism), which is the whole
    * point at 100 TB: every later shard-dedup join reads the corpus
    * side pre-hash-partitioned from disk, so the only exchange is the
    * SHARD's postings — per-batch cost ∝ shard size, never corpus
    * size. Staleness: the source-corpus data-file manifest rides in
    * the table's properties, so freshness and the bucketing metadata
    * share ONE lifetime — the session catalog's (in-memory here: a new
    * JVM rebuilds; on a metastore deployment both persist together,
    * the 100 TB shape). The table name carries the corpus hash +
    * bucket count so distinct corpora/configs never collide.
    *
    * INCREMENTAL MAINTENANCE (the same grow-only contract as
    * [[graft.sources.LocalIndex.ensureIncremental]], which the ANN
    * indexes use): when the corpus dir has only GAINED parquet files —
    * the ingest pattern, new crawl shards landing beside old ones —
    * only the new files' postings are computed and appended into the
    * existing bucketed layout (`saveAsTable` append honors the
    * catalog's bucket spec, so appended files carry bucket ids and the
    * zero-corpus-exchange join shape is preserved); per-append cost is
    * ∝ the new shard, never the corpus. The hot-shingle cap applies
    * batch-locally on appends — df drift across batches is the
    * standard LSM trade, folded back at the periodic full rebuild. A
    * mutated or removed old file falls back to the full rebuild.
    *
    * COMPACTION: each append adds ~one file per bucket, so a long
    * ingest history accretes file sets forever — the t8 CompactAt
    * discipline applies here too: once the table's data files exceed
    * `compactAt`, the append folds the layout back to ~one file per
    * bucket ([[compactPostingTable]] — rows untouched, bucket spec and
    * freshness properties preserved), bounding every later join's
    * corpus-side open cost whatever the ingest age. */
  def ensurePostingIndex(s: SparkSession, d: String,
      compactAt: Int = PostingCompactAt): String = {
    val buckets = s.conf.get("spark.sql.shuffle.partitions").toInt
    val table = "graft_postings_" +
      d.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase +
      f"_${d.hashCode & 0xffffffffL}%08x" + s"_b$buckets"
    val now = graft.sources.LocalIndex.dataManifest(Seq(s"$d/documents.parquet"))
    val marker = now.mkString("|")
    val stored =
      if (s.catalog.tableExists(table))
        s.sql(s"SHOW TBLPROPERTIES $table").collect()
          .find(_.getString(0) == "graft.src").map(_.getString(1))
      else None
    val storedEntries = stored.map(_.split('|').toSeq.filter(_.nonEmpty))

    // (g, doc_id, n) postings of a doc batch, hot cap applied within
    // it. `cap` is PRO-RATED to the batch's share of the indexed
    // corpus on appends: a corpus-hot shingle (df ≫ MaxShingleDf) has
    // only ~shard-share of that df inside one shard, so the full
    // corpus cap would keep nearly everything — the sf1 append
    // rehearsal measured 13× the pro-rata bytes, and every append
    // would erode the index's skew-free construction. The pro-rata
    // cap drops the same population statistically; residual df drift
    // across batches remains the documented LSM trade, folded back at
    // the periodic full rebuild.
    def postings(docs: DataFrame, cap: Long = MaxShingleDf): DataFrame = {
      val ex = docShingles(docs)
        .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
      val live = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("g"))
      ex.join(live.hint("shuffle_hash"), Seq("g"))
    }
    def setMarker(ndocs: Long): Unit = {
      s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.src' = '${sqlLit(marker)}', 'graft.ndocs' = '$ndocs')")
      ()
    }
    def storedNdocs(): Option[Long] =
      s.sql(s"SHOW TBLPROPERTIES $table").collect()
        .find(_.getString(0) == "graft.ndocs")
        .map(_.getString(1).toLong)

    storedEntries match {
      case Some(old) if old == now => // fresh: serve as-is
      case Some(old) if old.nonEmpty && old.forall(now.contains) =>
        // grow-only corpus: append just the new shard files' postings
        val newFiles = now.filterNot(old.contains)
          // strip trailing :len:mtime (the path itself may hold ':')
          .map(e => e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1)))
        // repartition on the bucket key first: bucketed writers emit
        // one file per (task × bucket), so a 32-task shard append
        // would land ~task×bucket footer-dominated files — aligned,
        // each bucket's delta is ONE file
        val shard = s.read.parquet(newFiles: _*)
        val shardN = shard.count()
        val priorN = storedNdocs().getOrElse(
          math.max(1L, Tables.documents(s, d).count() - shardN))
        val cap = math.max(1L,
          math.round(MaxShingleDf.toDouble * shardN / math.max(1L, priorN)))
        postings(shard, cap)
          .repartition(buckets, col("g"))
          .write.mode("append")
          .format("parquet").option("compression", "zstd")
          .bucketBy(buckets, "g").sortBy("g")
          .saveAsTable(table)
        setMarker(priorN + shardN)
        // bound the accreted part-file count (the t8 CompactAt tick):
        // past the budget, fold back to ~one file per bucket
        if (graft.streaming.Compaction.partFiles(tableLocation(s, table))
            > compactAt)
          compactPostingTable(s, table, buckets)
      case _ =>
        // full (re)build; clear any catalog-orphaned warehouse files
        // (the in-memory catalog forgets tables on JVM exit; the files
        // remain)
        s.sql(s"DROP TABLE IF EXISTS $table")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
        def rm(f: java.io.File): Unit =
          if (f.exists()) {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
        rm(loc)
        val docs = Tables.documents(s, d)
        postings(docs)
          .repartition(buckets, col("g"))
          .write.mode("overwrite")
          .format("parquet").option("compression", "zstd")
          .bucketBy(buckets, "g").sortBy("g")
          .saveAsTable(table)
        setMarker(docs.count())
    }
    table
  }

  /** SQL single-quoted-literal escape for TBLPROPERTIES values — the
    * marker carries filesystem paths, and a legal Linux path may
    * contain a single quote, which raw interpolation would turn into
    * broken SQL. */
  private def sqlLit(v: String): String = v.replace("'", "''")

  private def tableLocation(s: SparkSession, table: String): String =
    s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.getPath

  /** Fold the posting table's accreted per-append files back to ~one
    * file per bucket. Rows untouched (same postings), bucket spec
    * re-declared on the rewrite, and the freshness properties
    * (graft.src / graft.ndocs) restored — so every later serve and
    * append sees the identical contract, just fewer files. The rewrite
    * stages through a temp dir because Spark (correctly) refuses to
    * overwrite a table that the writing plan also reads; the staging
    * copy is the amortized price — paid once per `compactAt` appends,
    * not per batch. Crash-safe the same way the fresh build is: a
    * crash mid-rewrite leaves a droppable catalog entry whose next
    * ensure rebuilds from the corpus (the fingerprint no longer
    * matches a half-written table's properties). */
  def compactPostingTable(s: SparkSession, table: String, buckets: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val props = s.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft.")).toMap
    val staging =
      java.nio.file.Files.createTempDirectory("graft-postings-compact-")
    try {
      s.table(table).write.mode("overwrite").parquet(staging.toString)
      s.read.parquet(staging.toString)
        .repartition(buckets, col("g"))
        .write.mode("overwrite")
        .format("parquet").option("compression", "zstd")
        .bucketBy(buckets, "g").sortBy("g")
        .saveAsTable(table)
      props.foreach { case (k, v) =>
        s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
          s"('${sqlLit(k)}' = '${sqlLit(v)}')")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).foreach(rm)
        f.delete(); ()
      }
      rm(staging.toFile)
    }
  }

  /** d8: INCREMENTAL dedup — the operation a 100 TB ingest actually
    * runs: dedupe each incoming crawl shard against the
    * already-ingested corpus, without touching corpus-sized state per
    * batch. The corpus side is the persisted bucketed posting index
    * ([[ensurePostingIndex]]); the shard's shingles explode and join
    * it on the shingle, so the exchange volume is the SHARD's postings
    * only (pinned in the spec: zero Exchange on the corpus subtree).
    * Scoring is d2's symmetric Jaccard from the carried set sizes.
    * Within-shard duplicates are d2's job on the shard alone; this
    * operator is the shard×corpus half. */
  def incrementalDedup(shard: DataFrame, s: SparkSession, d: String,
                       threshold: Double = 0.5): DataFrame = {
    val table = ensurePostingIndex(s, d)
    val corpus = s.table(table)
      .select(col("g"), col("doc_id").as("corpus_doc"), col("n").as("cn"))
    val shardEx = docShingles(shard)
      .select(col("doc_id").as("shard_doc"), size(col("sh")).as("sn"),
        explode(col("sh")).as("g"))
    shardEx.join(corpus, Seq("g"))
      .groupBy(col("shard_doc"), col("corpus_doc"))
      .agg(count(lit(1)).as("common"), max(col("sn")).as("sn"),
        max(col("cn")).as("cn"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sn") + col("cn") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("shard_doc"), col("corpus_doc"), col("common"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  def d8Query(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalDedup(d8Shard(docs), s, d)
      .orderBy(col("shard_doc"), col("corpus_doc"))
  }

  // ---------------------------------------------------------------- d9

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023) constants: the
    * target MEAN cluster occupancy — the codebook size is derived from
    * it, k = clamp(⌈n/target⌉, 16, 4096), which is the paper's own
    * scaling rule (cluster count grows with the corpus so per-cluster
    * pair cost stays ~target²) and what keeps every cell under the
    * [[MaxNearDupBucket]] occupancy cap at any corpus size. */
  val SemTargetCell = 32
  val SemMinK = 16
  val SemMaxK = 4096
  /** Cosine-distance drop radius; d5's radius, so the two operators'
    * verdicts are comparable on the same corpus. */
  val SemMaxDistance = 0.55

  def semK(n: Long): Int =
    math.min(SemMaxK, math.max(SemMinK,
      math.ceil(n.toDouble / SemTargetCell).toInt))

  /** Total cell target with the two-level ceiling (r19): k grows as
    * n/target until [[SemMaxK]]² — coarse × fine, [[SemCells]] — so
    * occupancy holds the design point to ~8.4e9 vectors (4096× the
    * single-level cliff). */
  def semKTotal(n: Long): Long =
    math.min(SemMaxK.toLong * SemMaxK, math.max(SemMinK.toLong,
      math.ceil(n.toDouble / SemTargetCell).toLong))

  /** SemDeDup capacity at the TWO-LEVEL ceiling: once k_total saturates
    * at [[SemMaxK]]², mean cell occupancy n/k grows again and
    * eventually crosses the [[MaxNearDupBucket]] cap — beyond which the
    * guard would drop every cell. False → the caller must fail loudly
    * (three-level territory — the same [[SemCells]] recursion, nested),
    * never return silently-empty. */
  def semOccupancyOk(n: Long): Boolean =
    n.toDouble / semKTotal(n) <= MaxNearDupBucket

  /** The d10 INDEX's cell-size target. Deliberately larger than the
    * batch operator's [[SemTargetCell]]: d9's 32 minimizes in-cell
    * PAIR volume (quadratic in occupancy), but an index cell is a
    * parquet partition whose serve cost is file opens — at target 32
    * the sf1 index was 625 footer-dominated files and the serve wall
    * was I/O, not math. A shard probe does occupancy-many cheap
    * distance checks per vector (corpus-independent by construction),
    * so the index trades 8× more vector math for 8× fewer files. */
  val SemIndexTargetCell = 256

  def semIndexK(n: Long): Int =
    math.min(SemMaxK, math.max(SemMinK,
      math.ceil(n.toDouble / SemIndexTargetCell).toInt))

  def semIndexKTotal(n: Long): Long =
    math.min(SemMaxK.toLong * SemMaxK, math.max(SemMinK.toLong,
      math.ceil(n.toDouble / SemIndexTargetCell).toLong))

  def semIndexOccupancyOk(n: Long): Boolean =
    n.toDouble / semIndexKTotal(n) <= MaxNearDupBucket

  /** Deterministic seed for the d9 codebook: ~k corpus vectors at a
    * fixed id stride (the [[Ann.seedCodebook]] discipline, with the
    * stride derived from n and k instead of a constant). */
  private def semSeed(embs: DataFrame, n: Long, k: Int): Seq[(Long, Seq[Double])] = {
    val stride = math.max(1L, n / k)
    embs.filter(col("vec_id") % stride === 0 &&
        col("vec_id") < stride * k)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
  }

  /** Trained d9 assigner per corpus dir — flat codebook below
    * [[SemMaxK]] cells (the historical path, same literal-embedding
    * oracle contract as a3's codebook, [[Ann.codebookFor]]), TWO-LEVEL
    * coarse→fine past it ([[SemCells]]). Lifecycle is
    * rebuild-on-any-change ([[Ann.trainedKey]]) because d9 is a batch
    * operator with no persisted-index append contract. get/recompute/
    * put OUTSIDE the map lock — Lloyd training is a multi-job Spark
    * workload (the Dpp.peakThreshold shape). */
  private val semCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, (String, SemCells.Assigner)]()

  def semAssignerFor(s: SparkSession, d: String): SemCells.Assigner = {
    val key = Ann.trainedKey(d, "embeddings")
    val cached = semCodebooks.get(d)
    if (cached != null && cached._1 == key) cached._2
    else {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // n from parquet footers (the d5 guard's discipline) — the
      // retrain path needs the corpus size only for k and the
      // capacity guard, not another source scan
      val n = graft.sources.LocalIndex.parquetRowCount(
        s"$d/embeddings.parquet")
      // No silent caps ([[semOccupancyOk]]): fail loudly at the
      // two-level capacity cliff; the fix at THAT scale is a third
      // assignment level, not a looser cap.
      require(semOccupancyOk(n),
        s"semDedup: $n vectors / k=${semKTotal(n)} cells = mean occupancy " +
          f"${n.toDouble / semKTotal(n)}%.0f > bucket cap $MaxNearDupBucket " +
          "even at the two-level SemMaxK² ceiling — every cell would be " +
          "dropped by the occupancy guard. Three-level territory.")
      val asg = SemCells.train(e, n, semKTotal(n).toInt, SemMaxK, semSeed)
      semCodebooks.put(d, (key, asg))
      asg
    }
  }

  /** Flat-codebook view of the d9 cache for the oracle (gate corpora
    * are single-level; a two-level assigner cannot be replayed as SQL
    * literals and surfaces the loud sentinel instead). */
  private def semFlatCents(d: String): Seq[(Long, Seq[Double])] =
    Option(semCodebooks.get(d)).map(_._2).collect {
      case SemCells.Flat(c) => c }.getOrElse(Nil)

  /** d9: SemDeDup — semantic dedup scoped to trained k-means clusters,
    * the published recipe for embedding-space dedup at corpus scale
    * (cluster first so the quadratic pair step never sees the corpus,
    * only ~target-occupancy cells). One row per DROPPED vector:
    * `(vec_id, kept_by, score)` where `kept_by` is the smallest
    * lower-id cluster-mate within the cosine radius and `score` its
    * distance — the paper's drop rule (a point is removed iff a
    * lower-index point of its cluster sits within the radius; no
    * transitive re-check when the keeper is itself dropped).
    *
    * Plan: codegen'd [[Ann.nearestCentroid]] assignment (pure map —
    * the reference-object argmin loop, no shuffle), then the shared
    * occupancy-capped in-cell fused verify ([[nearPairsInBuckets]],
    * r20 — the exact cosine runs inside the cell row, only surviving
    * pairs become rows), and a partial-aggregable groupBy for the min
    * keeper. k scales as n/[[SemTargetCell]] so
    * cells stay ~constant; past [[SemMaxK]] the assignment IS
    * two-level ([[SemCells.TwoLevel]], r19: coarse literal fold routes
    * to a region, per-region sub-books ride one broadcast) — the
    * downstream plan shape is unchanged. Unlike
    * d5's multi-table LSH (recall from OR-ed tables, radius-bounded),
    * d9's scope is the cluster: pairs straddling a cell boundary are
    * invisible by design — the documented SemDeDup trade. */
  def semDedup(embs: DataFrame, cents: Seq[(Long, Seq[Double])],
               maxDistance: Double): DataFrame =
    semDedup(embs, SemCells.Flat(cents): SemCells.Assigner, maxDistance)

  def semDedup(embs: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame =
    semDedup(embs, cents, SemMaxDistance)

  def semDedup(embs: DataFrame, assigner: SemCells.Assigner,
               maxDistance: Double = SemMaxDistance): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"))
    val assigned = assigner.withCell(
        e.select(col("vec_id").as("doc_id"), col("embedding")), "cell")
      .select(col("doc_id"), col("embedding"), col("cell"))
    // in-cell fused verify (r20 — [[nearPairsInBuckets]]): each vector
    // lives in exactly ONE cell, so surviving pairs are already
    // distinct and feed the keeper groupBy directly
    nearPairsInBuckets(assigned, Seq("cell"), MaxNearDupBucket, maxDistance)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("kept_by"),
        min_by(col("score"), col("vec_a")).as("score"))
      .orderBy(col("vec_id"))
  }

  def d9Query(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    semDedup(Tables.embeddings(s, d), semAssignerFor(s, d))
  }

  // --------------------------------------------------------------- d10

  /** d10 shard: every 11th corpus embedding re-ingested verbatim under
    * offset ids — the semantic-dedup twin of [[d8Shard]]'s re-crawl
    * (the synthetic corpus has no incoming ingest batch of its own).
    * Verbatim on purpose: any float perturbation would have to be
    * replayed bit-exactly in DuckDB double arithmetic; the exactness
    * under test is the index/assignment/join shape, not the noise. */
  def d10Shard(embs: DataFrame): DataFrame =
    embs.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + lit(8000000L)).as("vec_id"), col("embedding"))

  /** The d10 codebook cache — same training as [[semCodebookFor]] but
    * the GROW-ONLY lifecycle of [[Ann.codebookFor]]: an incremental
    * index must keep its codebook FIXED while the corpus only gains
    * files (a retrained codebook moves cells and silently invalidates
    * every persisted assignment — the documented LSM drift trade,
    * folded back at full rebuild). Separate cache from d9's on
    * purpose: the batch operator retrains per corpus state (fresh
    * k ∝ n is the right batch behavior), the index must not. */
  private val semIndexCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], SemCells.Assigner)]()

  def semIndexAssignerFor(s: SparkSession, d: String): SemCells.Assigner = {
    val now = graft.sources.LocalIndex.dataManifest(Seq(s"$d/embeddings.parquet"))
    val cur = semIndexCodebooks.get(d)
    if (cur != null && cur._1.nonEmpty && cur._1.forall(now.contains)) {
      // CAS adopt (Ann.codebookFor's rule): a stale adopt must never
      // overwrite a concurrent mutation-triggered retrain
      if (cur._1 != now) semIndexCodebooks.replace(d, cur, (now, cur._2))
      cur._2
    } else {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // n from parquet footers (the d5 guard's discipline) — the
      // retrain path needs the corpus size only for k and the
      // capacity guard, not another source scan
      val n = graft.sources.LocalIndex.parquetRowCount(
        s"$d/embeddings.parquet")
      require(semIndexOccupancyOk(n),
        s"incrementalSemDedup: $n vectors / k=${semIndexKTotal(n)} cells " +
          s"exceeds the $MaxNearDupBucket-occupancy design point at build " +
          "time even at the two-level SemMaxK² ceiling — three-level " +
          "territory.")
      val trained = SemCells.train(e, n, semIndexKTotal(n).toInt, SemMaxK, semSeed)
      semIndexCodebooks.put(d, (now, trained))
      trained
    }
  }

  private def semIndexFlatCents(d: String): Seq[(Long, Seq[Double])] =
    Option(semIndexCodebooks.get(d)).map(_._2).collect {
      case SemCells.Flat(c) => c }.getOrElse(Nil)

  /** The persisted kept-vector index of a corpus dir: embeddings
    * written `partitionBy(cell)` under the d10 codebook — the
    * [[Ann.ensureIvfIndex]] layout with [[semK]] cells instead of the
    * serving codebook's 64, managed by the same
    * [[graft.sources.LocalIndex.ensureIncremental]] contract: a
    * grow-only corpus assigns ONLY the new shard's rows under the
    * unchanged codebook and appends them into the existing cell=
    * dirs; any codebook change falls back to the full rebuild. */
  def ensureSemIndex(s: SparkSession, d: String): String = {
    vectors.register(s)
    val asg = semIndexAssignerFor(s, d)
    // repartition on the cell key before the partitioned write (the
    // ensurePostingIndex aligned-append discipline): partitionBy from
    // an unaligned layout emits one file per (task × cell) — measured
    // 3,737 files over 625 cells at sf1, and the serve wall was
    // file-open-dominated. Aligned, each cell's delta is ONE file.
    graft.sources.LocalIndex.ensureIncremental("sem-index", d,
      "_k" + asg.k, Seq(s"$d/embeddings.parquet"),
      extra = "cb:" + asg.hashCode) { path =>
      asg.withCell(Tables.embeddings(s, d), "cell")
        .repartition(col("cell"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("cell").parquet(path)
    } { (newFiles, path) =>
      asg.withCell(s.read.parquet(newFiles: _*), "cell")
        .repartition(col("cell"))
        .write.mode("append").option("compression", "zstd")
        .partitionBy("cell").parquet(path)
    }
  }

  /** d10: incremental SemDeDup — the per-ingest-batch shape of d9, and
    * the production shape at 100 TB (a batch pass that re-clusters the
    * corpus per ingest would be quadratic in corpus size; the index
    * amortizes it). Each shard vector is assigned with the INDEX's
    * fixed codebook (one codegen'd map), the shard's cell set — ≤
    * shard-size driver-side constants, the t8 needle-bucket
    * discipline — prunes the index read to matching `cell=` partitions
    * at planning time, and the shard BROADCASTS into the pruned scan:
    * per-batch cost ∝ shard × its cells' occupancy, corpus-side ZERO
    * exchange. Output is d8's verdict shape, one row per (shard_vec,
    * corpus_vec) within the cosine radius in the same cell. */
  def incrementalSemDedup(shard: DataFrame, s: SparkSession, d: String,
      maxDistance: Double = SemMaxDistance): DataFrame = {
    vectors.register(s)
    val path = ensureSemIndex(s, d)
    val asg = semIndexAssignerFor(s, d)
    val assigned = asg.withCell(
        shard.select(col("vec_id").as("shard_vec"), col("embedding")), "cell")
      .select(col("shard_vec"), col("embedding").as("semb"), col("cell"))
    val cells = assigned.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val corpus = Tables.loadLayout(s, path).filter(col("cell").isin(cells: _*))
    // round(4) on the REPORTED score (the d2/d8 jaccard convention):
    // self-matches sit at 1-2 ulps of zero, where engine-order float
    // tails dominate any relative compare; the radius filter itself
    // stays on the raw value
    broadcast(assigned).join(corpus, Seq("cell"))
      .withColumn("score",
        vectors.cosineDistance(col("semb"), col("embedding")))
      .filter(col("score") <= maxDistance)
      .select(col("shard_vec"), col("vec_id").as("corpus_vec"),
        round(col("score"), 4).as("score"))
      .orderBy(col("shard_vec"), col("corpus_vec"))
  }

  def d10Query(s: SparkSession, d: String): DataFrame = {
    vectors.register(s)
    incrementalSemDedup(d10Shard(Tables.embeddings(s, d)), s, d)
  }

  // ------------------------------------------------------------ oracles

  private val toksSql = textops.tokensSql("text")
  private val shSql = textops.shinglesSql("t")

  /** A double literal DuckDB lexes as DOUBLE. A plain decimal literal
    * is lexed as DECIMAL and decimal-ROUNDED before any cast (even
    * `(0.123…)::DOUBLE` and `[…]::DOUBLE[]` round first), which is
    * fine when only signs matter but not for the probe argmin — the
    * exponent form parses straight to the exact IEEE double. */
  private def dblSql(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** DuckDB twin of one plane's margin over a column `emb`: an
    * UNROLLED left-to-right sum, bit-identical to
    * [[graft.functions.SignBucketProbe]]'s sequential fold. DuckDB's
    * `list_inner_product` does NOT sum sequentially (measured: ~40% of
    * rows differ in the last ulps), which the sign-only r19 bucket
    * tolerated but an argmin comparison must not rely on. */
  private def marginSql(pl: Seq[Double]): String =
    pl.zipWithIndex.map { case (c, i) => s"emb[${i + 1}] * ${dblSql(c)}" }
      .mkString(" + ")

  /** DuckDB twins, exact to the bit (see [[textops]] for the shared
    * primitives). */
  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |       min(doc_id) AS keeper
        |FROM all_docs GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shSql AS s FROM toks),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh2),
         |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > $MaxShingleDf),
         |pruned AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh2)
         |SELECT doc_a, doc_b, common,
         |       round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
         |ORDER BY 1, 2""".stripMargin,
    "d7_containment" ->
      s"""WITH toks0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |excerpt AS (SELECT doc_id + 2000000 AS doc_id,
         |                   t[1:greatest((len(t)*2)//5, 3)] AS t
         |            FROM toks0 WHERE doc_id % 25 = 0),
         |toks AS (SELECT doc_id, t FROM toks0
         |         UNION ALL SELECT doc_id, t FROM excerpt),
         |sh AS (SELECT doc_id, $shSql AS s FROM toks WHERE len(t) >= 3),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > $MaxShingleDf),
         |pruned AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh)
         |SELECT doc_a, doc_b, common,
         |       round(common * 1.0 / least(sa.n, sb.n), 4) AS containment
         |FROM pairs
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE common * 1.0 / least(sa.n, sb.n) >= 0.8
         |ORDER BY 1, 2""".stripMargin,
    // d6: recursive-CTE transitive closure over the same d2 pair graph;
    // cluster = min reachable id (matches min-label propagation fixpoint)
    "d6_dup_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shSql AS s FROM toks),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh2),
         |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > $MaxShingleDf),
         |pruned AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh2),
         |dpairs AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM dpairs
         |          UNION SELECT doc_b, doc_a FROM dpairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u)
         |SELECT u AS doc_id, least(u, min(v)) AS cluster
         |FROM reach GROUP BY u ORDER BY 1""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shSql AS s FROM toks),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh2),
         |hx AS (SELECT doc_id, ${graft.functions.textops.hash60Sql("g")} AS hv FROM ex),
         |sig AS (SELECT doc_id, h,
         |          min((${mhA.mkString("[", ", ", "]")}[h + 1] * (hv >> 30) +
         |               ${mhB.mkString("[", ", ", "]")}[h + 1] * (hv & $Lo30Mask) +
         |               ${mhC.mkString("[", ", ", "]")}[h + 1]) % $MinHashP) AS mh
         |        FROM hx CROSS JOIN (SELECT unnest(range(0, $MinHashFns)) AS h)
         |        GROUP BY 1, 2),
         |bk AS (SELECT doc_id, h // $BandRows AS band, bit_xor(mh) AS bkey
         |       FROM sig GROUP BY 1, 2),
         |sized AS (SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn FROM bk),
         |keep AS (SELECT * FROM sized WHERE bn <= $MaxBandBucket)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
         |FROM keep a JOIN keep b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d4_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |shl AS (SELECT doc_id, $shSql AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS w FROM shl WHERE len(s) > 0),
         |hx AS (SELECT doc_id, ${graft.functions.textops.hash60Sql("w")} AS th FROM ex),
         |bits AS (SELECT doc_id, b,
         |           sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |         FROM hx CROSS JOIN (SELECT unnest(range(0, $SimHashBits)) AS b)
         |         GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
         |       FROM bits GROUP BY 1),
         |chunks AS (SELECT doc_id, simhash, c, (simhash >> (c * 15)) & 32767 AS ck
         |           FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
         |sized AS (SELECT *, count(*) OVER (PARTITION BY c, ck) AS bn FROM chunks),
         |keep AS (SELECT * FROM sized WHERE bn <= $MaxChunkBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.simhash AS sa, b.simhash AS sb
         |         FROM keep a JOIN keep b
         |           ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INTEGER AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 12
         |ORDER BY 1, 2""".stripMargin,
    // d8: shard×corpus incremental dedup — corpus postings (hot-capped
    // on CORPUS df only, no singleton drop: a lone corpus shingle can
    // still match a shard shingle) joined by the derived shard's
    // postings; symmetric Jaccard from the carried set sizes.
    "d8_incremental_dedup" ->
      s"""WITH ctoks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |csh AS (SELECT doc_id, $shSql AS s FROM ctoks),
         |csh2 AS (SELECT doc_id, s FROM csh WHERE len(s) > 0),
         |cex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM csh2),
         |hot AS (SELECT g FROM cex GROUP BY g HAVING count(*) > $MaxShingleDf),
         |cpost AS (SELECT * FROM cex WHERE g NOT IN (SELECT g FROM hot)),
         |sdocs AS (SELECT doc_id + 4000000 AS doc_id,
         |                 text || ' incremental crawl copy' AS text
         |          FROM documents WHERE doc_id % 7 = 0),
         |stoks AS (SELECT doc_id, $toksSql AS t FROM sdocs),
         |ssh AS (SELECT doc_id, $shSql AS s FROM stoks),
         |ssh2 AS (SELECT doc_id, s FROM ssh WHERE len(s) > 0),
         |sex AS (SELECT doc_id AS shard_doc, len(s) AS sn, unnest(s) AS g FROM ssh2),
         |pairs AS (
         |  SELECT shard_doc, c.doc_id AS corpus_doc, count(*) AS common,
         |         max(sn) AS sn, max(c.n) AS cn
         |  FROM sex s JOIN cpost c ON s.g = c.g
         |  GROUP BY 1, 2)
         |SELECT shard_doc, corpus_doc, common,
         |       round(common * 1.0 / (sn + cn - common), 4) AS jaccard
         |FROM pairs
         |WHERE common * 1.0 / (sn + cn - common) >= 0.5
         |ORDER BY 1, 2""".stripMargin,
  )

  /** d5 oracle: per-dir because the PLANE COUNT and PROBE RATE derive
    * from the corpus size ([[nearDupPlanesFor]] / [[nearDupProbeSlots]]
    * — both engines table with the same n, read from parquet footers
    * on the Spark side and implied by the literals here). The pidx
    * CASE chain is first-match with only-later `<=` comparisons —
    * exactly the first index attaining the min, the expression's
    * strict-`<` tie rule. */
  private def d5OracleSql(d: String): String = {
    val n = graft.sources.LocalIndex.parquetRowCount(s"$d/embeddings.parquet")
    val planes = nearDupPlanesFor(n)
    val slots = nearDupProbeSlots(n)
    val dots = (0 until NearDupTables).map { t =>
      val ds = nearDupPlanes(t, planes).zipWithIndex
        .map { case (pl, p) => s"${marginSql(pl)} AS d$p" }.mkString(",\n    ")
      s"SELECT vec_id, $t AS t,\n    $ds FROM e"
    }.mkString("\n  UNION ALL\n  ")
    val bkt = (0 until planes)
      .map(p => s"(CASE WHEN d$p >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    val pidx = "CASE " + (0 until planes - 1).map { k =>
      (k + 1 until planes).map(j => s"abs(d$k) <= abs(d$j)")
        .mkString("WHEN ", " AND ", s" THEN $k")
    }.mkString(" ") + s" ELSE ${planes - 1} END"
    val probe =
      if (slots > 0)
        s"\n  UNION ALL\n  SELECT vec_id, t, xor(bkt, 1 << pidx) AS bkt" +
          s" FROM tb WHERE vec_id % $ProbeQuant < $slots"
      else ""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |dots AS (
       |  $dots),
       |tb AS (SELECT vec_id, t, $bkt AS bkt, $pidx AS pidx FROM dots),
       |mem AS (
       |  SELECT vec_id, t, bkt FROM tb$probe),
       |capped AS (
       |  SELECT vec_id, t, bkt FROM (
       |    SELECT *, count(*) OVER (PARTITION BY t, bkt) AS bn FROM mem)
       |  WHERE bn <= $MaxNearDupBucket),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM capped a JOIN capped b
       |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |       1.0 - list_cosine_similarity(ea.emb, eb.emb) AS score
       |FROM cand
       |JOIN e ea ON vec_a = ea.vec_id
       |JOIN e eb ON vec_b = eb.vec_id
       |WHERE 1.0 - list_cosine_similarity(ea.emb, eb.emb) <= 0.55
       |ORDER BY 1, 2""".stripMargin
  }

  /** d9's centroid CTE: the trained centroids as double literals when
    * this JVM has trained on `d` (Verify runs queries before dumping
    * oracle_sql, so the cache is populated by dump time — the
    * [[Ann.codebookFor]] contract). When the cache is EMPTY the dump
    * cannot match the operator (Lloyd-trained centroids exist only in
    * the training JVM), so instead of a seed formula that LOOKS
    * runnable but silently disagrees, emit a sentinel CTE that fails
    * loudly at oracle execution time — a d9/d10 comparison against an
    * untrained dump is a harness bug, not a near-miss to debug. */
  private def semCentsSqlFrom(cb: Seq[(Long, Seq[Double])]): String =
    if (cb.nonEmpty)
      "semcents(ccid, cv) AS (VALUES " + cb.map { case (cid, cv) =>
        s"($cid, ${VectorSearch.sqlArray(cv)}::DOUBLE[])" }.mkString(", ") + ")"
    else
      """semcents AS (
        |  SELECT CAST(error('graft: semDedup codebook UNTRAINED in the ' ||
        |    'dumping JVM (run the d9/d10 query before dumping ' ||
        |    'oracle_sql.json) — this oracle cannot match the operator')
        |    AS BIGINT) AS ccid, NULL::DOUBLE[] AS cv)""".stripMargin

  private def semCentsSql(d: String): String =
    semCentsSqlFrom(semFlatCents(d))

  /** d10's centroid CTE — the INDEX cache's codebook (trained under
    * the grow-only lifecycle), not d9's batch cache: the two train
    * separately (different k targets) and float-avg values need not
    * match bit-wise. */
  private def semIndexCentsSql(d: String): String =
    semCentsSqlFrom(semIndexFlatCents(d))

  /** Data-dependent oracles (trained-state literals — the
    * [[Ann.oracles]] pattern; `def`, per-dir on purpose). The
    * assignment tie-break (cdist, ccid) matches
    * [[Ann.nearestCentroid]]'s struct ordering; sqrt'd list_distance
    * orders identically to the Spark side's dist². */
  def dynOracles(d: String): Map[String, String] = Map(
    "d5_embedding_neardup" -> d5OracleSql(d),
    "d9_semdedup" ->
      s"""WITH ${semCentsSql(d)},
         |asg AS (
         |  SELECT vec_id, e, ccid AS cell FROM (
         |    SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.ccid,
         |           list_distance(v.embedding::DOUBLE[], c.cv) AS cdist
         |    FROM embeddings v CROSS JOIN semcents c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1),
         |capped AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT *, count(*) OVER (PARTITION BY cell) AS cn FROM asg)
         |  WHERE cn <= $MaxNearDupBucket),
         |pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |         1.0 - list_cosine_similarity(a.e, b.e) AS score
         |  FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE 1.0 - list_cosine_similarity(a.e, b.e) <= $SemMaxDistance)
         |SELECT vb AS vec_id, va AS kept_by, score
         |FROM (SELECT *, row_number() OVER (PARTITION BY vb ORDER BY va) AS rn
         |      FROM pairs)
         |WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "d10_incremental_semdedup" ->
      s"""WITH ${semIndexCentsSql(d)},
         |shard AS (
         |  SELECT vec_id + 8000000 AS shard_vec, embedding::DOUBLE[] AS semb
         |  FROM embeddings WHERE vec_id % 11 = 0),
         |sasg AS (
         |  SELECT shard_vec, semb, ccid AS cell FROM (
         |    SELECT sh.shard_vec, sh.semb, c.ccid,
         |           list_distance(sh.semb, c.cv) AS cdist
         |    FROM shard sh CROSS JOIN semcents c)
         |  QUALIFY row_number() OVER (PARTITION BY shard_vec ORDER BY cdist, ccid) = 1),
         |casg AS (
         |  SELECT vec_id, e, ccid AS cell FROM (
         |    SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.ccid,
         |           list_distance(v.embedding::DOUBLE[], c.cv) AS cdist
         |    FROM embeddings v CROSS JOIN semcents c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, ccid) = 1)
         |SELECT s.shard_vec, c.vec_id AS corpus_vec,
         |       round(1.0 - list_cosine_similarity(s.semb, c.e), 4) AS score
         |FROM sasg s JOIN casg c USING (cell)
         |WHERE 1.0 - list_cosine_similarity(s.semb, c.e) <= $SemMaxDistance
         |ORDER BY 1, 2""".stripMargin,
  )
}
