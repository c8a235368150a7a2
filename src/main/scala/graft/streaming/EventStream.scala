package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2, s1–s9).
  *
  * The reference ingests continuously by looping shards through a
  * writer (`process.py:95-120` — each new shard parquet appended to the
  * served table); Structured Streaming is the Spark-native form of that
  * pattern: a `readStream` source, the SAME declarative transforms as
  * batch, incremental state + watermark instead of a driver loop.
  * Both operators below are plan-builders over any DataFrame/Dataset —
  * batch or streaming — so the streaming path is unit-tested with
  * `MemoryStream` and the logic is identical if pointed at a file or
  * Kafka source.
  *
  * Scale notes: s1's state is one row per (window, event_type) — the
  * watermark bounds it by evicting closed windows; s2's state is one
  * small struct per live user session, keyed state partitioned by
  * user_id across executors, evicted by event-time timeout. Neither
  * holds raw events after the batch that delivered them.
  */
object EventStream {

  /** s1: windowed event aggregation with a watermark. Late events
    * beyond `watermark` are dropped and their windows finalized —
    * bounded state no matter how long the stream runs. */
  def windowedCounts(events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Int, sumValue: Double)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp,
    n_events: Int, sum_value: Double)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** s2: stateful sessionization via `flatMapGroupsWithState` — the
    * streaming twin of the batch lag-gap-cumsum in Analytics.q19. A
    * session closes when (a) a later event for the same user arrives
    * more than `gapMs` after it (emitted that batch), or (b) the
    * event-time watermark passes `end + gapMs` with no new events
    * (emitted by timeout — the open session can't be extended anymore
    * because anything that could extend it is now late).
    *
    * The per-batch pass is an INTERVAL MERGE, not a sort: events are
    * consumed in arrival order into a TreeMap of gap-separated
    * intervals (each event merges with at most its floor and ceiling
    * neighbors). Task memory is O(intervals) = O(batch time span /
    * gap) — a hot key (bot, shared account) whose million-event
    * backfill batch lands in one trigger folds into a handful of
    * intervals instead of materializing as a sorted Seq on the task
    * heap. For in-order and any single-batch input the resulting
    * sessions are exactly the sorted scan's gap clusters. */
  def sessionize(events: Dataset[Event],
      gapMs: Long = SessionGapMs,
      watermark: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._

    def toSession(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.start), new Timestamp(st.end),
        st.n, st.sumValue)

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(toSession(userId, _)).toList
        state.remove()
        out.iterator
      } else {
        val iv = new java.util.TreeMap[Long, SessionState]()
        state.getOption.foreach(st => iv.put(st.start, st))
        batch.foreach { e =>
          val t = e.ts.getTime
          var st = SessionState(t, t, 1, e.value)
          // absorb the interval at-or-before t when t is within its gap
          // (t inside the interval merges trivially: end stays)
          val lo = iv.floorEntry(t)
          if (lo != null && t - lo.getValue.end <= gapMs) {
            val v = lo.getValue
            st = SessionState(v.start, math.max(v.end, t),
              v.n + 1, v.sumValue + e.value)
            iv.remove(lo.getKey)
          }
          // the grown interval may now bridge to the next one; at most
          // one — surviving intervals stay pairwise > gap apart, so the
          // one after the absorbed ceiling is out of reach by induction
          val hi = iv.ceilingEntry(t)
          if (hi != null && hi.getValue.start - st.end <= gapMs) {
            val v = hi.getValue
            st = SessionState(st.start, math.max(st.end, v.end),
              st.n + v.n, st.sumValue + v.sumValue)
            iv.remove(hi.getKey)
          }
          iv.put(st.start, st)
        }
        // every interval but the last has a later event > gap after its
        // end (the next interval's start) — closed; the last stays open
        var closed = List.empty[Session]
        var cur: Option[SessionState] = None
        val it = iv.values.iterator
        while (it.hasNext) {
          cur.foreach(p => closed ::= toSession(userId, p))
          cur = Some(it.next())
        }
        cur.foreach { st =>
          state.update(st)
          state.setTimeoutTimestamp(st.end + gapMs)
        }
        closed.reverse.iterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // -------------------------------------------------------- gate runner

  /** Shared driver-gate runner: builds a streaming DataFrame, runs it
    * to a parquet sink with `Trigger.AvailableNow` (process everything
    * available, then stop — the batch-boundary trigger a backfill job
    * uses) in append mode, and reads the finalized sink back.
    *
    * Isolation/hygiene (r9 verdict #7 + ADVICE):
    *  - the stream runs on a CHILD session (`newSession`: same
    *    SparkContext, own SQLConf), so the state-store
    *    shuffle-partition override below never leaks into the shared
    *    session — a concurrent batch query keeps its own parallelism.
    *  - sink + checkpoint live under ONE fixed directory per
    *    (gate, dataset), wiped on entry — repeated Bench/Verify runs
    *    reuse the same path instead of growing a fresh temp pair per
    *    invocation.
    *
    * The stateful shuffle's partition count is frozen into the
    * checkpoint at first start and sizes the STATE STORE, not the
    * scan: each micro-batch writes one state-delta file and one sink
    * file per partition, so 32 partitions over a state of a few
    * hundred keys is pure small-file IO. State cardinality is bounded
    * by the watermark regardless of corpus size — data-parallel read
    * stages are split by file, unaffected by this setting — so 8 is
    * the scale-correct choice here, not a local-mode shortcut. */
  private def wipe(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      // Using(...) closes the walk stream — a bare Files.walk leaks a
      // directory handle per gate invocation.
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { w =>
        w.iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
      }
    }

  /** Per-JVM scratch root: keyed by pid so two concurrent processes
    * (e.g. Bench alongside Verify, or parallel test JVMs) can never
    * wipe each other's live checkpoint/sink; deleted on JVM exit so
    * repeated invocations don't accrete dirs in the tmpdir. Within a
    * process, each (gate, dataset) pair reuses its fixed subdir. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-stream",
      "pid-" + ProcessHandle.current().pid())
    sys.addShutdownHook(try wipe(p) catch { case _: Throwable => () })
    p
  }

  /** Runtime confs the parent session set that must carry over to the
    * child stream session: `newSession()` shares the SparkContext but
    * starts from a FRESH SQLConf, so e.g. a test suite selecting the
    * RocksDB state-store provider via `spark.conf.set` would otherwise
    * silently run the gate on the default HDFS store. Static confs
    * can't be re-set at runtime — skipped (they're shared via the
    * context anyway). */
  private def inheritStreamingConfs(parent: SparkSession, child: SparkSession): Unit =
    parent.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.streaming.") && child.conf.getOption(k) != Some(v))
        try child.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf
    }

  /** Waits for the stream to finish. With SPARK_GRAFT_STREAM_PROGRESS
    * set, also dumps each micro-batch's progress JSON (durationMs
    * breakdown: addBatch / getBatch / queryPlanning / walCommit /
    * commitOffsets / stateOperators) to stderr — the per-batch
    * attribution an optimization pass reads. */
  private def await(gate: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROGRESS"))
      q.recentProgress.foreach(p =>
        System.err.println(s"[stream-progress] $gate ${p.json}"))
  }

  /** State-partition sizing, MEASURED r21: widening the corpus-sized-
    * state gates (s2 sessions / s3 hashes / s4 join buffers) from 8 to
    * defaultParallelism (32) state partitions was tried and REJECTED —
    * 5-run medians at sf0.1 went s4 4.19→26.5 s, s2 2.48→12.1 s,
    * s3 2.07→11.6 s (maintain phase 4.0→24.3 s on s4): the HDFS state
    * store pays per-partition delta/snapshot/maintenance I/O per
    * micro-batch, which dwarfs the parallelism gain at any state size
    * that fits a batch. 8 stays the setting at every scale tested;
    * `stateParts` remains a parameter so a genuinely huge-state
    * deployment can widen it deliberately. */
  /** `noDataBatch = false` skips the trailing no-data micro-batch
    * (spark.sql.streaming.noDataMicroBatches.enabled). ONLY legal for
    * gates whose OUTPUT never depends on watermark finalization:
    * stream-stream INNER joins (s4) emit on match during the data
    * batch, and dropDuplicatesWithinWatermark (s3) emits each first
    * sight eagerly — for both, the no-data batch's only work is state
    * EVICTION, and gate state dies with the run. Gates that emit ON
    * the final watermark (append-mode aggregates s1/s5, s2's
    * event-time timeouts) MUST keep it: their rows only appear in
    * that batch. Measured r21: the skipped batch cost ~1.2 s of
    * state-store commit per gate run at sf0.1. */
  private def runAvailableNow(s: SparkSession, gate: String, d: String,
      stateParts: Int = 8, noDataBatch: Boolean = true)
      (build: SparkSession => DataFrame): DataFrame = {
    // Sanitized dataset path (not hashCode) keys the subdir: unique per
    // dataset, stable across runs of this process.
    val root = scratchRoot.resolve(
      gate + "-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    if (!noDataBatch)
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = build(ss)
      .writeStream.format("parquet")
      .option("path", root.resolve("out").toString)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    await(gate, q)
    // The s2/s3 oracles assume every source file lands in ONE data
    // micro-batch (in-batch session closure / dedup scope is
    // batch-global only then). FileStreamSource's default AvailableNow
    // plan delivers that today; fail loudly if a future
    // maxFilesPerTrigger/maxBytesPerTrigger or multi-batch split breaks
    // the invariant rather than letting the gate drift from its oracle.
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches == 1,
      s"$gate: expected exactly 1 data micro-batch under AvailableNow " +
        s"(the oracle's in-batch semantics assume it), saw $dataBatches")
    s.read.parquet(root.resolve("out").toString)
  }

  /** File-source streaming read of the events table (ns→µs conversion
    * mirroring [[graft.Tables.events]]). GLOB, not the bare file path:
    * FileStreamSource force-sets basePath to a non-glob path verbatim,
    * and a single-file corpus (the testdata layout) then fails
    * "basePath must be a directory"; with a glob it derives the parent
    * dir itself. Also correct unchanged for a directory-of-parts
    * corpus. */
  private def streamEvents(ss: SparkSession, d: String): DataFrame = {
    val raw = graft.Tables.load(ss, d, "events") // schema probe (memoized)
    val src = ss.readStream.schema(raw.schema).parquet(s"$d/events*.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) file
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => src
    }
  }

  /** Driver-gated s1: [[windowedCounts]] executed as a REAL stream.
    * Append mode emits exactly the windows the FINAL watermark closed
    * (window_end ≤ max-event-time floored to ms − 30 min); the DuckDB
    * oracle applies the same cutoff in ms arithmetic, so the gate
    * checks the watermark semantics themselves, not just the
    * aggregation. sum(value) is rounded like every order-dependent
    * double aggregate (q20). */
  def s1Query(s: SparkSession, d: String): DataFrame =
    runAvailableNow(s, "s1", d) { ss =>
      windowedCounts(streamEvents(ss, d))
        .select(col("window_start"), col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
    }.orderBy(col("window_start"), col("event_type"))

  /** Approximate frequent items ON A STREAM — the Space-Saving
    * DISPLAY surface ([[graft.functions.TopKSketchAgg]], ranks with
    * error bars) under Structured Streaming. Per (event-time window,
    * event_type) the state store holds ONE capacity-bounded
    * serialized summary — not per-user counts — so streaming state is
    * O(windows × types × capacity) regardless of user cardinality,
    * and the watermark finalizes/evicts closed windows exactly as in
    * [[windowedCounts]]. The append-mode emission explodes the
    * finalized sketch into (user, cnt, rank) rows. The s5 GATE runs
    * [[windowedHeavyHitters]] instead (round 14): candidate emission
    * whose recount-verified output is deterministic under any
    * state-store merge order — this display stream's ranks are
    * order-dependent beyond the guaranteed heavy keys, which is fine
    * for a dashboard and wrong for a cross-engine hash gate. */
  def windowedTopK(events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes",
      capacity: Int = 256, k: Int = 5): DataFrame = {
    graft.functions.topk.register(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(graft.functions.topk.topkSketch(col("user_id"), capacity, k).as("tk"))
      .select(col("w.start").as("window_start"), col("event_type"),
        posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("window_start"), col("event_type"),
        col("e.item").as("user_id"), col("e.cnt").as("cnt"),
        (col("pos") + 1).as("rk"))
  }

  /** Streaming guaranteed-heavy-hitters candidates — the continuous
    * form of [[graft.operators.Analytics.q32ApproxTopK]]'s pass 1:
    * per event-time window, one FIXED-capacity Misra-Gries candidate
    * summary ([[graft.functions.MgCandidatesAgg]]) plus the exact
    * window count. State per window is ≤ 2·capacity entries — bounded
    * whatever the per-window key cardinality, which is what a
    * streaming top-pages job needs at 100 TB/day (the previous
    * corpus-sized capacity made the state store grow with the
    * corpus). Watermark finalization matches s1: append emits a
    * window once the watermark passes its end. Downstream consumers
    * re-verify candidates against exact counts (the PODS'12
    * completeness bound survives any state-store merge order) —
    * see [[s5Query]]. */
  def windowedHeavyHitters(events: DataFrame, key: Column,
      windowLen: String = "1 day",
      watermark: String = "30 minutes",
      capacity: Int = 256): DataFrame = {
    graft.functions.heavyhitters.register(events.sparkSession)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(graft.functions.heavyhitters.mgCandidates(
        key, lit(1L), capacity).as("cand"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("cand"), col("n"))
  }

  /** s3: streaming exact-dedup — the continuous form of Dedup.d1 for an
    * ingest stream (the reference re-ingests overlapping shards;
    * duplicates must be dropped before they hit the corpus).
    * `dropDuplicatesWithinWatermark` keys state by the content hash and
    * GUARANTEES dedup for duplicates arriving within the watermark of
    * first sight, while letting the state store evict hashes older than
    * the watermark — bounded state on an unbounded stream, the only
    * honest contract at 100 TB (an exact forever-dedup would grow state
    * with the corpus; run batch d1 periodically for that). */
  def dedupStream(docs: DataFrame, watermark: String = "30 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** s4: stream-stream ingest alignment — the streaming form of v6's
    * metadata⋈embeddings combine (`process.py` aligns the two halves of
    * a shard positionally; here each half arrives as its own stream).
    * Inner equi-join on the id plus a time-range bound: the range is
    * what lets Spark evict each side's join state once the watermark
    * passes it — bounded buffers on unbounded streams. A doc whose
    * embedding arrives more than `maxDelay` later is dropped, loudly
    * bounded rather than silently unbounded. */
  def alignStreams(docs: DataFrame, embs: DataFrame,
      maxDelay: String = "1 hour"): DataFrame =
    docs.withWatermark("ts", maxDelay)
      .join(embs.withWatermark("ets", maxDelay),
        expr(s"doc_id = vec_id AND " +
          s"ets BETWEEN ts - INTERVAL $maxDelay AND ts + INTERVAL $maxDelay"))
      .select(col("doc_id"), col("text"), col("embedding"), col("ts"))

  /** s6: streaming ingest dedup — the CONTINUOUS form of d8
    * ([[graft.operators.Dedup.incrementalDedup]]): crawl shards arrive
    * as a file stream and each micro-batch is deduped against the
    * persisted bucketed posting index inside `foreachBatch` — the
    * stream-against-batch-index shape for when the batch side needs
    * join physics (a bucketed, pre-partitioned corpus read) the
    * streaming planner can't express. ZERO streaming state: a batch's
    * verdicts depend only on that batch and the index, so state stays
    * empty however long the stream runs, and the emitted union is the
    * same for ANY split of the shard rows into micro-batches — unlike
    * s2/s3, whose oracles pin single-batch scope, this gate's oracle
    * is split-invariant (pinned by the multi-batch suite test).
    * Per-batch cost ∝ batch size: the corpus side reads
    * pre-partitioned from disk, only the batch's postings exchange. */
  def ingestDedup(shards: DataFrame, d: String, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    shards.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.incrementalDedup(batch.toDF(), batch.sparkSession, d)
          .write.mode("append").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s7: streaming rollup maintenance — the CONTINUOUS form of c9
    * ([[graft.operators.Rollup]]), i.e. the ClickHouse
    * materialized-view shape end-to-end: each event micro-batch
    * aggregates to partial rollup rows (`rollupPart` — count /
    * integer-cents sum / HLL user sketch per (day, event_type)) that
    * land as an appended PART in the rollup dir inside `foreachBatch`;
    * the serve-side merge (sum / sum / hll_union across parts) makes
    * the report IDENTICAL however the rows were split into batches.
    * ZERO streaming state: a batch's partials depend only on that
    * batch, so state stays empty for the stream's whole life, and
    * per-batch cost is one map-side aggregation of the batch down to
    * ≤ days × types rows — at 100 TB the stream ships KBs per batch
    * into the rollup regardless of event volume. */
  def rollupMaintain(events: DataFrame, rollupDir: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // repartition on the partition key: the partial rows are ≤
        // days × types, but without it each of the shuffle tasks
        // writes its own file into every day dir it holds
        graft.operators.Rollup.rollupPart(batch.toDF())
          .repartition(col("day"))
          .write.mode("append").partitionBy("day").parquet(rollupDir)
        // background merge every N batches: parts fold back to one row
        // per grain (sum/sum/hll_union — the serve math applied early),
        // so serve cost stays ~1-part whatever the stream's age
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          graft.operators.Rollup.compactParts(batch.sparkSession, rollupDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s9: streaming TTL maintenance — the CONTINUOUS form of c15
    * ([[graft.operators.Ttl]]): each micro-batch appends its rows as
    * day-partitioned part files, then expiry drops whole expired day
    * directories (pure filesystem metadata — no surviving file is
    * rewritten). The cutoff is FIXED for the stream's life (pinned
    * data-derived "now"), so append + expiry commute across any batch
    * split: a day directory survives iff the day is within the TTL
    * window, whatever batches fed it. ZERO streaming state — the
    * stateful alternative (tracking per-day liveness in the store)
    * would re-implement what the directory listing already is. */
  def ttlMaintain(events: DataFrame, layoutDir: String,
      cutoff: java.time.LocalDate,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.toDF()
          .withColumn("day", date_trunc("day", col("ts")).cast("date"))
          .select(col("event_type"), col("value"), col("day"))
          // co-locate rows by day before the partitioned append (c7's
          // build discipline): one file per day per batch instead of
          // one per (writer task × day) — the narrow rows shuffle for
          // far less than the saved per-file open/footer cost
          .repartition(col("day"))
          .write.mode("append").partitionBy("day").parquet(layoutDir)
        graft.operators.Ttl.applyTtl(layoutDir, cutoff)
        // background merge: each surviving day dir folds back to c7's
        // one-file form (rows untouched — report identical)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          graft.operators.Ttl.compactLayout(batch.sparkSession, layoutDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s9 gate: [[ttlMaintain]] over the events parquet arriving as a
    * real file-source stream into a fresh scratch layout, cutoff
    * computed once from the SOURCE corpus (the same pinned rule as
    * c15), then c15's served daily report — the oracle applies
    * verbatim. */
  def s9Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s9-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val cutoff = graft.operators.Ttl.cutoffFor(graft.Tables.events(ss, d))
    val layout = root.resolve("layout").toString
    val q = ttlMaintain(streamEvents(ss, d), layout, cutoff,
      root.resolve("ckpt").toString)
    await("s9", q)
    graft.operators.Ttl.servedDaily(s, layout)
  }

  /** s11: streaming mutation maintenance — the CONTINUOUS form of c20
    * ([[graft.operators.Mutation]]): delete REQUESTS (bounded key
    * batches — the compliance queue a production deployment drains)
    * arrive as a stream; each micro-batch collects its k-bounded key
    * set (bounded by the mutation contract, the trained-literal class
    * of collect) and applies the pruned part rewrite against the
    * persisted bucketed layout inside `foreachBatch`. ZERO streaming
    * state, and key-deletes are IDEMPOTENT and COMMUTATIVE — each
    * key's delete rewrites only its own bucket's rows, and deleting
    * {A} then {B} leaves the same bytes as deleting {A,B} — so the
    * final layout is identical for ANY split of the requests into
    * micro-batches (pinned by the maxFilesPerTrigger=1 suite test). */
  def deleteMaintain(requests: DataFrame, layoutDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val keys = batch.toDF().select(col("user_id")).distinct()
          .collect().map(_.getLong(0)).toSeq
        if (keys.nonEmpty)
          graft.operators.Mutation.deleteKeys(
            batch.sparkSession, layoutDir, keys)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s11 gate: a FRESH pre-mutation bucketed layout (not the c20
    * cache — that one is manifest-managed and already post-delete),
    * the pinned forget set written as a 2-file request stream (so even
    * the gate run crosses a batch boundary under file-source
    * splitting), [[deleteMaintain]] drains it, then c20's served
    * report — the oracle applies verbatim. */
  def s11Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s11-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val events = graft.Tables.events(ss, d)
    val layout = root.resolve("layout").toString
    graft.operators.Mutation.buildLayout(events, layout)
    val keys = graft.operators.Mutation.forgetSet(events)
    import ss.implicits._
    keys.toDF("user_id").repartition(2)
      .write.parquet(root.resolve("requests").toString)
    val src = ss.readStream
      .schema("user_id BIGINT")
      .parquet(root.resolve("requests").toString)
    val q = deleteMaintain(src, layout, root.resolve("ckpt").toString)
    await("s11", q)
    graft.operators.Mutation.servedReport(s, layout)
  }

  /** s12: streaming importance scoring at ingest — the CONTINUOUS
    * form of c22 ([[graft.operators.Dsir]]) and the paper's own
    * deployment shape: the importance model is trained ONCE on the
    * reference corpus ([[graft.operators.Dsir.ensureModel]], a
    * B-bounded frozen (bkt, r) table), and every arriving document
    * micro-batch scores against the broadcast frozen model inside
    * `foreachBatch`, appending (doc_id, n_grams, logw) rows to the
    * score sink. ZERO streaming state, and per-doc scores depend only
    * on the doc and the frozen model, so the maintained score table —
    * and the top-k selection served from it — is batch-split-INVARIANT
    * by construction (pinned by the maxFilesPerTrigger=1 suite test).
    * Per-batch cost ∝ the batch's grams; the corpus is never
    * rescanned at ingest. */
  def scoreMaintain(docs: DataFrame, modelPath: String, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ss = batch.sparkSession
        graft.operators.Dsir.scoreAgainst(
            batch.toDF(), ss.read.parquet(modelPath))
          .write.mode("append").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s12 gate: train/reuse the frozen model for `d`, stream the
    * documents table through [[scoreMaintain]] into a fresh scratch
    * sink, then serve c22's top-k selection from the accumulated
    * scores — the oracle is c22's verbatim. */
  def s12Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s12-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val model = graft.operators.Dsir.ensureModel(ss, d)
    val raw = graft.Tables.load(ss, d, "documents")
    val src = ss.readStream.schema(raw.schema).parquet(s"$d/documents*.parquet")
    val q = scoreMaintain(src, model, root.resolve("scores").toString,
      root.resolve("ckpt").toString)
    await("s12", q)
    graft.operators.Dsir.selectTop(
      s.read.parquet(root.resolve("scores").toString))
  }

  /** s8: streaming upsert maintenance — the CONTINUOUS form of c10
    * ([[graft.operators.Replacing]]), i.e. ReplacingMergeTree fed by a
    * stream: each event micro-batch compacts to ONE part (the batch's
    * latest version per key, `compactPart` — a map-side-partial
    * aggregation of the batch) appended into the bucketed parts dir
    * inside `foreachBatch`; FINAL (newest version per key across all
    * parts) is applied at read time. ZERO streaming state — a batch's
    * part depends only on that batch — and the FINAL struct-max is
    * associative/commutative over versions, so the served report is
    * IDENTICAL for any split of the events into micro-batches. The
    * stateful alternative (mapGroupsWithState keyed on user) would pin
    * every entity in the state store forever; the part/FINAL split
    * keeps stream memory at zero and pays one bounded merge at read —
    * the LSM trade c7/c9 document, here under continuous ingest. */
  def upsertMaintain(events: DataFrame, partsDir: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // repartition on the bucket key: compactPart's groupBy leaves
        // every task holding keys of ALL buckets, so the partitioned
        // append would land tasks × buckets small files per batch
        graft.operators.Replacing.compactPart(batch.toDF())
          .repartition(col("b"))
          .write.mode("append").partitionBy("b").parquet(partsDir)
        // background merge: FINAL struct-max applied early folds all
        // parts to one (associative over versions — FINAL unchanged)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          graft.operators.Replacing.compactParts(batch.sparkSession, partsDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s8 gate: [[upsertMaintain]] over the events parquet arriving as a
    * real file-source stream into a FRESH scratch parts dir (not the
    * c10 cache — that one is manifest-managed by `ensureReplacing`),
    * then the SAME served FINAL report as c10. Batch-split-invariant by
    * construction (pinned by the two-batch suite test), so the c10
    * oracle applies verbatim. */
  def s8Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s8-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val parts = root.resolve("parts").toString
    val q = upsertMaintain(streamEvents(ss, d), parts,
      root.resolve("ckpt").toString)
    await("s8", q)
    graft.operators.Replacing.finalReport(s.read.parquet(parts))
  }

  /** s7 gate: [[rollupMaintain]] over the events parquet arriving as a
    * real file-source stream into a FRESH scratch rollup (not the c9
    * cache — that one is manifest-managed by `ensureRollup`), then
    * the SAME served report + exact-verification as c9. Output is
    * batch-split-invariant by construction (pinned by the two-batch
    * suite test), so the c9 oracle applies verbatim. */
  def s7Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s7-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val out = root.resolve("rollup").toString
    val q = rollupMaintain(streamEvents(ss, d), out,
      root.resolve("ckpt").toString)
    await("s7", q)
    graft.operators.Rollup.servedWithContract(s, d, out)
  }

  /** s6 gate: [[ingestDedup]] over the d8 shard arriving as a real
    * file-source stream. The posting index is built once BEFORE the
    * stream starts (each batch's re-ensure is then a pure metadata
    * freshness check); no single-data-batch `require` — s6's output is
    * batch-split-invariant by construction. */
  def s6Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s6-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    graft.operators.Dedup.ensurePostingIndex(ss, d)
    val raw = graft.Tables.load(ss, d, "documents")
    val src = ss.readStream.schema(raw.schema).parquet(s"$d/documents*.parquet")
    val q = ingestDedup(graft.operators.Dedup.d8Shard(src), d,
      root.resolve("out").toString, root.resolve("ckpt").toString)
    await("s6", q)
    s.read.parquet(root.resolve("out").toString)
      .orderBy(col("shard_doc"), col("corpus_doc"))
  }

  /** s10: continuous inverted-index maintenance — the streaming
    * mirror of t8 (completing the maintenance-mirror family: s7↔c9,
    * s8↔c10, s9↔c15, s10↔t8 — continuous indexing is the ingestion
    * story of a real search deployment). Each document micro-batch
    * computes ITS OWN postings (doc-local — no corpus-global
    * statistics exist in the layout, the property that makes t8's
    * index append-safe) and appends them into the bucket-partitioned
    * layout inside `foreachBatch`. ZERO streaming state, and the
    * maintained index is batch-split-INVARIANT by construction: every
    * doc contributes exactly its own posting rows in exactly one
    * batch, so ANY split of the corpus into micro-batches yields the
    * same posting multiset (pinned by the suite's two-batch test).
    * Per-batch cost ∝ batch size: one explode + partial aggregate of
    * the batch, no corpus-side work at all. */
  def indexMaintain(docs: DataFrame, indexDir: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // repartition on the bucket key before the partitioned append —
        // the t8 batch-build discipline: without it every writer task
        // lands one file in every bucket dir it holds postings for
        // (tasks × buckets small files PER BATCH, measured ≤8 files in
        // each of ~29 dirs per batch at sf0.1), and both the compaction
        // tick and every serve pay the open cost. The explicit count
        // (the session's shuffle partitions) keeps the writers parallel:
        // a count-less repartition is one AQE coalesces, at micro-batch
        // sizes into ONE task that writes every bucket file
        graft.operators.InvertedIndex.postings(batch.toDF())
          .repartition(batch.sparkSession.sessionState.conf.numShufflePartitions,
            col("tb"))
          .write.mode("append").option("compression", "zstd")
          .partitionBy("tb").parquet(indexDir)
        // background merge every N batches: per-batch part files fold
        // back to one file per bucket dir (rows untouched), the same
        // LSM-accretion answer s7/s8/s9 wire for their layouts
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          graft.operators.InvertedIndex.compactIndex(
            batch.sparkSession, indexDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s10 gate: [[indexMaintain]] over the documents table arriving as
    * a real file-source stream into a FRESH scratch index, then t8's
    * bucket-pruned search served from the streamed layout. Oracle =
    * t8's verbatim (split-invariance makes them the same corpus). */
  def s10Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s10-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val raw = graft.Tables.load(ss, d, "documents")
    val src = ss.readStream.schema(raw.schema).parquet(s"$d/documents*.parquet")
    val q = indexMaintain(src, root.resolve("idx").toString,
      root.resolve("ckpt").toString)
    await("s10", q)
    graft.operators.InvertedIndex.searchIndex(
      s.read.parquet(root.resolve("idx").toString))
  }

  /** s13: continuous POSITIONAL-index maintenance — the streaming
    * mirror of t11 and s10's twin, closing the one asymmetry in the
    * maintenance-mirror family (s7↔c9, s8↔c10, s9↔c15, s10↔t8,
    * s11↔c20, s12↔c22, s13↔t11). Positional posting rows are
    * DOC-LOCAL exactly like t8's — a (token, doc_id, positions) row
    * derives from one document alone — so the batch-split-invariance
    * argument carries verbatim: every doc contributes its own
    * position rows in exactly one micro-batch, any split of the
    * corpus yields the same posting multiset (pinned by the suite's
    * maxFilesPerTrigger=1 test). ZERO streaming state; per-batch cost
    * ∝ batch size (one posexplode + partial aggregate of the batch,
    * no corpus-side work). */
  def posIndexMaintain(docs: DataFrame, indexDir: String,
      checkpoint: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // same one-file-per-bucket-per-batch discipline and writer
        // count as indexMaintain
        graft.operators.InvertedIndex.posPostings(batch.toDF())
          .repartition(batch.sparkSession.sessionState.conf.numShufflePartitions,
            col("tb"))
          .write.mode("append").option("compression", "zstd")
          .partitionBy("tb").parquet(indexDir)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          graft.operators.InvertedIndex.compactPosIndex(
            batch.sparkSession, indexDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** s13 gate: [[posIndexMaintain]] over the documents table arriving
    * as a real file-source stream into a FRESH scratch index, then
    * t11's bucket-pruned phrase serve from the streamed layout.
    * Oracle = t11's verbatim (split-invariance makes them the same
    * corpus). */
  def s13Query(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot.resolve(
      "s13-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    wipe(root)
    java.nio.file.Files.createDirectories(root)
    val ss = s.newSession()
    inheritStreamingConfs(s, ss)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val raw = graft.Tables.load(ss, d, "documents")
    val src = ss.readStream.schema(raw.schema).parquet(s"$d/documents*.parquet")
    val q = posIndexMaintain(src, root.resolve("idx").toString,
      root.resolve("ckpt").toString)
    await("s13", q)
    graft.operators.InvertedIndex.phraseSearch(
      s.read.parquet(root.resolve("idx").toString))
  }

  /** s5 gate: [[windowedHeavyHitters]] as a real file-source stream,
    * at FIXED capacity 256 — corpus-independent state, the eviction
    * regime exercised at every gate SF (distinct pages per daily
    * window exceed 256 from sf0.01 up). The stream emits per
    * finalized window the bounded candidate set + exact count; the
    * gate then recounts ONLY the candidates in one batch pass
    * (broadcast semi-join, ≤ 2·256 keys × 30 windows) and keeps
    * pages above n/256 — by the Misra-Gries completeness bound the
    * result is exactly {page : cnt·256 > n_window}, the deterministic
    * set the DuckDB oracle recomputes from exact counts under the
    * same watermark cutoff as s1. The display-rank streaming surface
    * ([[windowedTopK]], Space-Saving with error bars) stays
    * spec-covered; this gate pins the bounded-state contract. */
  def s5Query(s: SparkSession, d: String): DataFrame = {
    val streamed = runAvailableNow(s, "s5", d) { ss =>
      windowedHeavyHitters(streamEvents(ss, d),
        graft.operators.Analytics.pageVisit)
    }
    // Gate integrity (r14 advice): the MG candidate set is complete
    // only over the rows the STREAM aggregated — if the file source
    // ever fed micro-batches out of time order, the 30-minute
    // watermark would late-drop rows, and a heavy key's stream-visible
    // mass could fall below the completeness bound while its batch
    // recount still clears n/256: silently absent, gate diverges.
    // (Today runAvailableNow enforces exactly one data micro-batch, so
    // the watermark cannot drop anything; the check is defense-in-depth
    // for the day that invariant is relaxed.) ONE scan serves both the
    // recount and the check: a left join against the broadcast
    // candidate set collapses every non-candidate row into a single
    // null-page group per window (map-side combine keeps the shuffle at
    // ≤ 2·capacity + 1 rows per window), the per-window batch total
    // bn = Σ cnt over ALL groups comes back with a window sum, and an
    // in-plan assert_true fails LOUDLY on streamed n ≠ bn instead of
    // paying a second eager events pass per gate run (r15 advice).
    val grouped = graft.Tables.events(s, d)
      .select(window(col("ts"), "1 day")("start").as("window_start"),
        graft.operators.Analytics.pageVisit.as("page_id"))
      .join(broadcast(streamed.select(col("window_start"), col("n"),
        explode(col("cand")).as("page_id"))),
        Seq("window_start", "page_id"), "left_outer")
      .groupBy(col("window_start"),
        when(col("n").isNotNull, col("page_id")).as("page_id"))
      .agg(count(lit(1)).as("cnt"), max(col("n")).as("n"))
    val hits = grouped
      .withColumn("bn", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))))
      .filter(col("page_id").isNotNull)
      .filter(assert_true(col("n") === col("bn"),
        lit("s5: a finalized window lost late rows to the watermark — " +
          "the Misra-Gries completeness bound no longer covers the " +
          "batch recount; candidates untrusted")).isNull)
      .drop("bn")
    hits
      .filter(col("cnt") * lit(256L) > col("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))
          .orderBy(col("cnt").desc, col("page_id"))))
      .select(col("window_start"), col("page_id"), col("cnt"), col("n"),
        col("rk"))
      .orderBy(col("window_start"), col("rk"))
  }

  // ------------------------------------------------- driver gates s2–s4

  /** Synthetic ingest timestamps for the document/embedding corpora
    * (they carry no event-time column of their own): one row per
    * second from a fixed epoch, keyed by id — deterministic, identical
    * arithmetic on the DuckDB side. */
  private val IngestBaseUs = 1700000000000000L // 2023-11-14T22:13:20Z

  private def ingestTs(id: Column): Column =
    timestamp_micros(lit(IngestBaseUs) + id * lit(1000000L))

  /** s2 gate: [[sessionize]] as a REAL stream over the events parquet.
    * With AvailableNow all events land in one micro-batch, so the
    * emitted set is: every session CLOSED IN-BATCH by a later
    * same-user event (gap > 30 min) — i.e. all but each user's last
    * session — plus last sessions whose event-time timeout fired, i.e.
    * `end + gap < final watermark` (timeouts fire on strictly-less:
    * "the watermark advances beyond the set timestamp"; the
    * finalization no-data micro-batch runs them). The oracle rebuilds
    * exactly that set from the batch lag-gap-cumsum (q19 semantics)
    * plus the same ms-floored watermark cutoff — so the gate checks
    * the streaming session semantics, not just the plumbing.
    * Timestamps go out as epoch-ms BIGINTs: session state rounds to ms
    * (`Timestamp.getTime`), and ms longs sidestep cross-engine
    * timestamp-encoding drift. */
  def s2Query(s: SparkSession, d: String): DataFrame =
    runAvailableNow(s, "s2", d) { ss =>
      import ss.implicits._
      val ev = streamEvents(ss, d)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[Event]
      sessionize(ev).toDF()
        .select(col("user_id"),
          unix_millis(col("start")).as("sess_start"),
          unix_millis(col("end")).as("sess_end"),
          col("n_events").cast("long").as("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
    }.orderBy(col("user_id"), col("sess_start"))

  /** s3 gate: [[dedupStream]] as a REAL stream over the documents
    * parquet plus the same simulated re-crawl d1 uses (every 10th doc,
    * offset ids — the corpus itself is duplicate-free). The projection
    * keeps ONLY columns determined by the dedup key — n_chars is a
    * function of the text; `lang` is NOT (the sf0.1+ corpus carries
    * same-text rows labeled with different langs, a real-data shape
    * the sf1 rehearsal surfaced), and `dropDuplicatesWithinWatermark`
    * keeps an ARBITRARY member of each duplicate set, so any
    * non-key-determined column would be nondeterministic across runs. */
  def s3Query(s: SparkSession, d: String): DataFrame =
    runAvailableNow(s, "s3", d, noDataBatch = false) { ss =>
      val raw = graft.Tables.load(ss, d, "documents")
      val src = ss.readStream.schema(raw.schema).parquet(s"$d/documents*.parquet")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val recrawl = src.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      dedupStream(src.union(recrawl).withColumn("ts", ingestTs(col("doc_id"))))
        .select(col("content_hash"), col("n_chars"))
    }.orderBy(col("content_hash"))

  /** s4 gate: [[alignStreams]] as a REAL pair of streams — the
    * documents and embeddings halves of the corpus arriving as
    * separate file sources, inner-joined within the ±1 h band.
    * Embedding arrival lag is synthesized as `(vec_id % 7) × 13 min`,
    * so ids with `vec_id % 7 ≥ 5` (65/78 min) fall OUTSIDE the band
    * and must be dropped — the gate checks the time-bound join
    * actually bounds. The embedding column itself is projected to its
    * L2 norm (array columns don't survive the driver compare; the
    * norm is the v6/v7-proven bit-exact scalar stand-in). */
  def s4Query(s: SparkSession, d: String): DataFrame =
    runAvailableNow(s, "s4", d, noDataBatch = false) { ss =>
      graft.functions.vectors.register(ss)
      val rawD = graft.Tables.load(ss, d, "documents")
      val rawE = graft.Tables.load(ss, d, "embeddings")
      val docs = ss.readStream.schema(rawD.schema)
        .parquet(s"$d/documents*.parquet")
        .select(col("doc_id"), col("text"))
        .withColumn("ts", ingestTs(col("doc_id")))
      val embs = ss.readStream.schema(rawE.schema)
        .parquet(s"$d/embeddings*.parquet")
        .select(col("vec_id"), col("embedding"))
        .withColumn("ets", timestamp_micros(
          lit(IngestBaseUs) + col("vec_id") * lit(1000000L) +
            (col("vec_id") % 7) * lit(13L * 60 * 1000000L)))
      alignStreams(docs, embs)
        .select(col("doc_id"),
          graft.functions.vectors.l2Norm(col("embedding")).as("emb_norm"),
          unix_millis(col("ts")).as("ts_ms"))
    }.orderBy(col("doc_id"))

  /** DuckDB oracle twins for the streaming gates (s1's lives inline in
    * [[graft.SparkEntry]]). All watermark arithmetic is ms-floored the
    * way Spark's event-time stats floor (epoch_us // 1000). */
  val oracles: Map[String, String] = Map(
    // s7 emits the SAME report as c9 (batch-split-invariant by
    // construction) — the oracle is c9's, verbatim
    "s7_stream_rollup" ->
      graft.operators.Rollup.oracles("c9_rollup_serve"),
    // s10's streamed index holds the same posting multiset as t8's
    // batch-built one for ANY batch split — the oracle is t8's verbatim
    "s10_stream_index" -> graft.operators.InvertedIndex.oracle,
    // s8 is batch-split-invariant (FINAL struct-max is associative over
    // versions), so its oracle IS c10's latest-per-key replay
    "s8_stream_upsert" ->
      graft.operators.Replacing.oracles("c10_replacing_upsert"),
    // s11 drains the same pinned forget set c20 deletes (idempotent,
    // commutative key-deletes) — the oracle is c20's verbatim
    "s11_stream_delete" ->
      graft.operators.Mutation.oracles("c20_mutation_delete"),
    // s12 scores every doc against the frozen model exactly once
    // whatever the batch split — the oracle is c22's verbatim
    "s12_stream_score" -> graft.operators.Dsir.oracles("c22_dsir"),
    // s13's streamed positional index holds the same (token, doc_id,
    // positions) multiset as t11's batch-built one for ANY batch
    // split (positions are doc-local) — the oracle is t11's verbatim
    "s13_stream_pos_index" -> graft.operators.InvertedIndex.oraclePhrase,
    // emitted = closed-in-batch (not the user's last session) OR timed
    // out (end + gap strictly below the final watermark)
    "s2_stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS tms, value FROM events),
        |g AS (SELECT user_id, tms, value,
        |        CASE WHEN tms - lag(tms) OVER w IS NULL
        |               OR tms - lag(tms) OVER w > 1800000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tms
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |agg AS (SELECT user_id, sid,
        |          min(tms) AS sess_start, max(tms) AS sess_end,
        |          count(1) AS n_events, round(sum(value), 4) AS sum_value,
        |          max(sid) OVER (PARTITION BY user_id) AS last_sid
        |        FROM s GROUP BY 1, 2)
        |SELECT user_id, sess_start, sess_end, n_events, sum_value
        |FROM agg
        |WHERE sid < last_sid
        |   OR sess_end + 1800000 <
        |      (SELECT epoch_us(max(ts)) // 1000 - 1800000 FROM events)
        |ORDER BY 1, 2""".stripMargin,
    "s3_stream_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT DISTINCT md5(text) AS content_hash, n_chars
        |FROM all_docs ORDER BY 1""".stripMargin,
    // (vec_id % 7) * 13 min ≤ 60 min ⇔ vec_id % 7 ≤ 4 — the lag rule
    // the Spark side synthesizes; ids at 65/78 min lag are dropped
    "s4_stream_align" ->
      """SELECT d.doc_id,
        | sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS emb_norm,
        | (1700000000000000 + d.doc_id * 1000000) // 1000 AS ts_ms
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE e.vec_id % 7 <= 4
        |ORDER BY 1""".stripMargin,
    // s6 is batch-split-invariant, so its oracle IS d8's: the union of
    // per-batch verdicts over any split equals the whole-shard result
    "s6_stream_ingest_dedup" ->
      graft.operators.Dedup.oracles("d8_incremental_dedup"),
  )
}
