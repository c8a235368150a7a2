package graft

import org.apache.spark.sql.SparkSession

/** Session factory carrying the engine's optimizer/runtime tuning —
  * one place, shared by Bench / Verify / ExplainQ / tests. */
object GraftSession {

  /** Catalyst rules this engine excludes, with reasons:
    *
    *  - `InferFiltersFromGenerate`: derives `size(arr) > 0 AND
    *    isnotnull(arr)` from every explode, and predicate pushdown then
    *    substitutes the whole array-BUILDING expression into the
    *    scan-stage filter — so the most expensive projection in a dedup
    *    plan is re-evaluated (twice: size + isnotnull), serially, below
    *    the very exchange that was placed to parallelize it. Profiled
    *    at 5–100 s per dedup query on the single-split test corpus.
    *    Dropping it costs nothing for this engine's plans: exploded
    *    arrays here are always computed on the fly, never stored
    *    columns whose emptiness could prune a scan. (The sibling
    *    hazard — IsNotNull inferred from JOIN keys via
    *    InferFiltersFromConstraints — is kept, and neutralized where it
    *    bites by making derived join keys statically non-nullable with
    *    `coalesce`, see Dedup.minhashLsh/simhash.)
    */
  val ExcludedRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Structured Streaming state-store provider for the 100 TB setting:
    * RocksDB keeps keyed state (windows, sessions, dedup hashes,
    * join buffers) on local disk with an in-memory cache instead of
    * fully on-heap — state size stops being bounded by executor heap,
    * and changelog checkpointing ships deltas instead of full
    * snapshots. Runtime-settable: applies to queries STARTED after the
    * conf is set (each query pins its provider at start). */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def useRocksDBStateStore(s: SparkSession): Unit =
    s.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDBProvider)

  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      // the deployment-grade function registration path (see
      // GraftExtensions) — a cluster submit sets the same conf
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // parquet timestamps written without isAdjustedToUTC (pandas/
      // pyarrow default for tz-naive frames) must read as TIMESTAMP
      // (UTC instant, this engine's wire type — the session zone above
      // makes the two interpretations identical), not TIMESTAMP_NTZ:
      // NTZ forbids the numeric casts the event-time operators use
      // (epoch bucketing, gap arithmetic) and DuckDB oracles read the
      // same files as plain TIMESTAMP.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      // ObjectHashAggregate (collect_list/collect_set — the dedup
      // bucket builds, q26) falls back to SORT-based aggregation after
      // only 128 distinct keys per partition by default, silently
      // re-introducing the per-partition sort the hash agg exists to
      // avoid. The raise is safe for the plans this engine builds
      // because their collect state is bounded by INPUT bytes, not key
      // count: each posting row lands in exactly one bucket array, so
      // a partition's total array state ≈ its (maxPartitionBytes-
      // bounded) input share, whatever the key count. The threshold is
      // a key-count proxy for the pathological case this engine never
      // plans — collecting huge arrays under FEW keys — and 4M keys
      // (vs a 2–4M-row shuffle partition at 128 MB) keeps the dedup
      // builds hash-based at any scale while still yielding the sort
      // fallback's disk path for key-explosions beyond that. NOT 16M+:
      // the fallback is also the only spill valve ObjectHashAggregate
      // has, and an effectively-infinite threshold would disable it
      // for every collect in the session, including user queries whose
      // state is NOT input-bounded. DOCUMENTED EXPOSURE: this raise is
      // session-wide, so an ad-hoc user aggregate with huge per-key
      // state (collect_set/percentile_approx over FEW hot keys) keeps
      // hash-aggregating — no sort-based spill valve — until 4M keys;
      // a session serving such workloads should lower it back around
      // that query (spark.conf.set, or SET in SQL — the conf is read
      // at execution, not capture, time).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (4 * 1024 * 1024).toString)
      // every multi-query rank cut (Ann.twoPhaseCut) relies on the
      // map-side WindowGroupLimit Spark infers only for cuts up to this
      // threshold; Spark's default (1000) sits below the IVF-PQ refine
      // depth, the deepest cut the engine plans
      .config("spark.sql.optimizer.windowGroupLimitThreshold",
        graft.operators.Ann.PqRerankDepth.toString)
      // wide-but-legitimate expression trees (e.g. v8's 64-component
      // embed array) otherwise spam truncation warnings into the log
      .config("spark.sql.debug.maxToStringFields", "2000")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
