package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.textops

/** c20/c21: targeted mutations — ClickHouse's `ALTER TABLE … DELETE
  * WHERE` / `ALTER TABLE … UPDATE … WHERE` (and the lightweight
  * `DELETE FROM`), the operation a training-data deployment runs for
  * right-to-be-forgotten / takedown compliance: remove or redact ALL
  * rows of a bounded set of keys from an immutable columnar corpus.
  *
  * ClickHouse executes a mutation by rewriting ONLY the parts that
  * contain matching rows; untouched parts are never opened. The
  * Spark-native equivalent: the corpus lives hash-bucketed on the
  * mutation key (`b = user_id mod` [[NumBuckets]] partition dirs — the
  * c10 layout contract), the forget set's bucket residues are computed
  * DRIVER-side from the bounded key list, and the mutation rewrites
  * exactly those bucket directories (read → filter/redact → atomic
  * swap, the [[graft.streaming.Compaction.rewrite]] idiom). Every
  * other bucket's files stay BYTE-IDENTICAL (spec-asserted), so
  * downstream manifests and caches over untouched buckets remain
  * valid — the mutation costs O(affected buckets), never a corpus
  * rewrite, and at 100 TB with key-range parts it is O(parts holding
  * the keys), exactly ClickHouse's mutation bound.
  *
  * The forget set is pinned data-derived (the [[ForgetKeys]] user_ids
  * with the smallest [[textops.hash60]], unique-id tie-break) so both
  * engines derive it independently — no wall-clock, no random state.
  *
  * c20 DELETEs the forget set; c21 UPDATEs it in place (the GDPR
  * "anonymize instead of drop" variant: event_type → 'redacted',
  * cents → 0 — row counts survive, payload is scrubbed). Both serve
  * the same per-type report from the post-mutation layout; the oracle
  * replays the forget-set rule over raw events with NOT IN / CASE.
  */
object Mutation {

  /** Hash-bucket count for the mutable layout (c10's scale note: rises
    * with the key space at warehouse scale; contract unchanged). */
  val NumBuckets = 32

  /** Forget-set size — mutations are BOUNDED-key operations (a GDPR
    * batch is a handful of subjects, not a predicate over the corpus);
    * the driver-side collect is k rows by contract. 8 keeps survivors
    * at every gate SF (sf0.001 has only 15 distinct users) so the
    * gates never go vacuous-empty. */
  val ForgetKeys = 8

  /** Normalize events to the mutable-layout grain: key, bucket, exact
    * integer cents (the c10 `keyed` shape). */
  private def keyed(events: DataFrame): DataFrame =
    events.select(
      col("user_id"),
      pmod(col("user_id"), lit(NumBuckets.toLong)).cast("int").as("b"),
      col("ts"), col("event_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))

  /** The key-bucketed layout mutations operate on: one directory per
    * key residue, rows co-located by the aligned repartition (the d10
    * lesson — partitionBy from an unaligned layout emits task×bucket
    * files). */
  def buildLayout(events: DataFrame, out: String): Unit =
    keyed(events)
      .repartition(col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(out)

  /** The pinned forget set: the [[ForgetKeys]] user_ids with the
    * smallest hash60 (unique-id tie-break) — deterministic,
    * data-derived, k-bounded driver collect (the trained-literal
    * class). */
  def forgetSet(events: DataFrame): Seq[Long] =
    events.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .withColumn("h", textops.hash60(col("user_id").cast("string")))
      .orderBy(col("h"), col("user_id"))
      .limit(ForgetKeys)
      .collect().map(_.getLong(0)).toSeq

  /** Apply a mutation to the layout at `dir`: rewrite ONLY the bucket
    * directories the keys hash into, via tmp-build + atomic swap per
    * bucket. Returns (affected, untouched) bucket-dir counts. The
    * row transform `f` sees one bucket's rows (schema: user_id, ts,
    * event_id, event_type, cents) and returns the post-mutation rows.
    *
    * Buckets the keys DON'T touch are never listed, opened, or
    * rewritten — the mutation's cost bound and the byte-identity
    * contract MutationSpec pins. */
  def applyMutation(s: SparkSession, dir: String, keys: Seq[Long])
                   (f: DataFrame => DataFrame): (Int, Int) = {
    val affected = keys.map(k => ((k % NumBuckets + NumBuckets) % NumBuckets).toInt)
      .distinct.sorted
    // One bucket rewrite = one tiny Spark job (read one dir → filter →
    // write). Running them serially leaves the cluster idle for every
    // job's scheduling latency × affected buckets; the rewrites touch
    // DISJOINT directories (distinct tmp dirs, distinct renames), so
    // they are submitted concurrently from a bounded pool and the
    // per-bucket atomic tmp-build+swap contract is unchanged. Spark's
    // scheduler interleaves the jobs (FIFO back-fill); 4 in flight is
    // enough to hide the latency without flooding a shared cluster.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, affected.length)))
    try {
      val futures = affected.map { bkt =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val bdir = s"$dir/b=$bkt"
            require(new java.io.File(bdir).isDirectory,
              s"applyMutation: bucket dir $bdir missing — mutation over a " +
                "non-materialized layout would silently drop the bucket")
            // Compaction.rewrite builds the tmp from a full read of the
            // live dir BEFORE the swap, so the read-modify-write is safe
            graft.streaming.Compaction.rewrite(bdir) { tmp =>
              f(s.read.parquet(bdir)).write.parquet(tmp)
            }
          }
        })
      }
      try futures.foreach(_.get()) // propagate the first failure loudly
      catch { case e: java.util.concurrent.ExecutionException =>
        // A failed bucket must not unwind while SIBLING rewrites keep
        // swapping directories in the background (the caller may read
        // or rebuild the layout immediately): cancel what hasn't run,
        // interrupt what has (a mid-build Spark job aborts before its
        // swap; the swap itself is not interrupt-sensitive), and wait
        // for the pool to drain before rethrowing. Rethrow the CAUSE —
        // callers catch the original exception type (e.g. the
        // missing-bucket IllegalArgumentException), not the pool's
        // ExecutionException wrapper.
        futures.foreach(_.cancel(true))
        pool.shutdownNow()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
        throw Option(e.getCause).getOrElse(e)
      }
    } finally pool.shutdown()
    (affected.length, NumBuckets - affected.length)
  }

  /** `ALTER TABLE … DELETE WHERE user_id IN keys`: drop the forget
    * set's rows from their buckets. */
  def deleteKeys(s: SparkSession, dir: String, keys: Seq[Long]): (Int, Int) =
    applyMutation(s, dir, keys)(
      _.filter(!col("user_id").isin(keys.map(Long.box): _*)))

  /** `ALTER TABLE … UPDATE … WHERE user_id IN keys`: redact the forget
    * set in place — type → 'redacted', cents → 0; row counts and ids
    * survive (the anonymize-not-drop compliance variant). */
  def redactKeys(s: SparkSession, dir: String, keys: Seq[Long]): (Int, Int) =
    applyMutation(s, dir, keys) { rows =>
      val hit = col("user_id").isin(keys.map(Long.box): _*)
      rows
        .withColumn("event_type",
          when(hit, lit("redacted")).otherwise(col("event_type")))
        .withColumn("cents", when(hit, lit(0L)).otherwise(col("cents")))
    }

  /** The served per-type report over a (post-mutation) layout: a plain
    * pruned scan of the bucketed parquet — mutations leave an ordinary
    * table behind, not a view with filter debt. */
  def servedReport(s: SparkSession, dir: String): DataFrame =
    Tables.loadLayout(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"),
        sum(col("cents")).as("cents"))
      .orderBy(col("event_type"))

  private def ensureMutated(s: SparkSession, d: String, kind: String)
                           (mutate: (String, Seq[Long]) => Unit): String = {
    graft.sources.LocalIndex.ensure(kind, d, "", Seq(s"$d/events.parquet"),
        s"v1-b$NumBuckets-k$ForgetKeys") { out =>
      val events = Tables.events(s, d)
      buildLayout(events, out)
      mutate(out, forgetSet(events))
    }
  }

  /** c20 gate: build the bucketed layout, DELETE the forget set
    * (pruned part rewrite), serve the report from what remains. */
  def c20Query(s: SparkSession, d: String): DataFrame =
    servedReport(s, ensureMutated(s, d, "mutdel") { (out, keys) =>
      deleteKeys(s, out, keys); ()
    })

  /** c21 gate: same layout machinery, UPDATE-in-place (redact). */
  def c21Query(s: SparkSession, d: String): DataFrame =
    servedReport(s, ensureMutated(s, d, "mutupd") { (out, keys) =>
      redactKeys(s, out, keys); ()
    })

  /** The forget-set rule replayed in SQL: smallest-hash60 user_ids,
    * unique-id tie-break — the same [[textops.hash60Sql]] md5 twin the
    * q66/c1 gates pin. */
  private val forgetSql =
    s"""forget AS (
       |  SELECT user_id FROM (SELECT DISTINCT user_id FROM events
       |                       WHERE user_id IS NOT NULL)
       |  ORDER BY ${textops.hash60Sql("CAST(user_id AS VARCHAR)")}, user_id
       |  LIMIT $ForgetKeys)""".stripMargin

  val oracles: Map[String, String] = Map(
    "c20_mutation_delete" ->
      s"""WITH $forgetSql
         |SELECT event_type, count(*) AS n,
         |  count(DISTINCT user_id) AS users,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM events
         |WHERE user_id NOT IN (SELECT user_id FROM forget)
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "c21_mutation_update" ->
      s"""WITH $forgetSql,
         |upd AS (
         |  SELECT CASE WHEN user_id IN (SELECT user_id FROM forget)
         |              THEN 'redacted' ELSE event_type END AS event_type,
         |         user_id,
         |         CASE WHEN user_id IN (SELECT user_id FROM forget)
         |              THEN 0 ELSE CAST(round(value * 100) AS BIGINT)
         |         END AS cents
         |  FROM events)
         |SELECT event_type, count(*) AS n,
         |  count(DISTINCT user_id) AS users,
         |  CAST(sum(cents) AS BIGINT) AS cents
         |FROM upd GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
