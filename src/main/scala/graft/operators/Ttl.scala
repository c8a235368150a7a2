package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** c15: TTL expiry — ClickHouse's `TTL ts + INTERVAL n DAY` table
  * maintenance, re-expressed as day-partition lifecycle over a
  * partitioned parquet layout.
  *
  * ClickHouse drops WHOLE parts whose maximum TTL timestamp has
  * passed — deletion is a metadata operation, never a rewrite. The
  * Spark-native equivalent: the corpus lives day-partitioned
  * (`day=YYYY-MM-DD` directories); expiry removes expired partition
  * DIRECTORIES and touches nothing else. At 100 TB that is O(expired
  * partitions) filesystem metadata, while the naive `DELETE WHERE` —
  * rewriting the corpus minus old rows — would be a full scan + full
  * write. Surviving files stay byte-identical (asserted in the spec),
  * so downstream caches and their manifests remain valid.
  *
  * The cutoff is pinned DETERMINISTIC: newest event day − (TTL − 1) —
  * a data-derived "now", so the gate never depends on wall-clock.
  */
object Ttl {

  /** Retention window in days: a row's day survives iff it is within
    * the newest [[TtlDays]] days of the corpus. */
  val TtlDays = 14

  private def withDay(events: DataFrame): DataFrame =
    events.withColumn("day", date_trunc("day", col("ts")).cast("date"))

  /** Day-partitioned layout: one directory per event day, each day's
    * rows co-located by the repartition (c7's discipline — downstream
    * readers partition-prune, expiry drops whole dirs). */
  def buildDailyLayout(events: DataFrame, out: String): Unit =
    withDay(events)
      .select(col("event_type"), col("value"), col("day"))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)

  /** The expiry operation: delete partition directories strictly older
    * than `cutoff`. Pure filesystem metadata — no surviving file is
    * opened, rewritten, or moved. Returns (kept, dropped) day counts.
    *
    * LOCAL-FILESYSTEM contract: `dir` must be an existing, listable
    * local directory (the `java.io.File` layout this module writes).
    * A cluster layout on hdfs:// or s3a:// needs the
    * `org.apache.hadoop.fs.FileSystem` twin of this loop — the same
    * O(expired partitions) metadata walk; expiry must never silently
    * no-op because the path wasn't visible to `java.io`. */
  def applyTtl(dir: String, cutoff: LocalDate): (Int, Int) = {
    val listed = new java.io.File(dir).listFiles()
    require(listed != null,
      s"applyTtl: cannot list '$dir' — expiry requires an existing " +
        "listable local directory (nonexistent path, URI scheme, or " +
        "permission error would otherwise silently expire nothing)")
    val parts = listed
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    val (keep, drop) = parts.partition { f =>
      !LocalDate.parse(f.getName.stripPrefix("day=")).isBefore(cutoff)
    }
    drop.foreach { d =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }
    (keep.length, drop.length)
  }

  /** Background merge for a streamed-into layout: coalesce each day
    * directory's accreted per-batch part files back to c7's one-file
    * form. Rows are untouched (same day partitioning, same values), so
    * the served report is identical; expiry semantics are unaffected
    * (whole day dirs remain the drop unit). */
  def compactLayout(s: SparkSession, dir: String): Unit = {
    val rows = s.read.parquet(dir)
      .select(col("event_type"), col("value"), col("day"))
    graft.streaming.Compaction.rewrite(dir) { tmp =>
      rows.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    }
  }

  /** Deterministic cutoff from the SOURCE corpus: newest day −
    * (TTL − 1). One constant-size driver-side aggregate (a single
    * date), the same class of collect as the ANN codebooks. */
  def cutoffFor(events: DataFrame): LocalDate =
    withDay(events).agg(max(col("day"))).collect().head
      .getDate(0).toLocalDate.minusDays(TtlDays - 1L)

  /** c15 gate: build-once (layout + expiry inside one
    * [[graft.sources.LocalIndex.ensure]], so the published dir is the
    * post-TTL state), then serve the per-(day, type) daily report from
    * the surviving partitions — a scan that never sees expired days.
    * The oracle recomputes the same report from raw events with the
    * pinned cutoff predicate. */
  def c15Query(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val dir = graft.sources.LocalIndex.ensure("ttl", d, "",
        Seq(s"$d/events.parquet"), s"ttl$TtlDays") { out =>
      buildDailyLayout(events, out)
      applyTtl(out, cutoffFor(events))
      ()
    }
    servedDaily(s, dir)
  }

  /** The per-(day, type) daily report over a (post-expiry) layout —
    * shared by the batch gate (c15) and its streaming twin (s9). */
  def servedDaily(s: SparkSession, dir: String): DataFrame =
    Tables.loadLayout(s, dir)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("day"), col("event_type"))

  val oracles: Map[String, String] = Map(
    // the cutoff predicate replayed over raw events: newest day − 13
    "c15_ttl" ->
      s"""WITH cutoff AS (
         |  SELECT max(CAST(date_trunc('day', ts) AS DATE))
         |    - ${TtlDays - 1} AS c
         |  FROM events)
         |SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM events, cutoff
         |WHERE CAST(date_trunc('day', ts) AS DATE) >= c
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s9 is c15 maintained per micro-batch (appends + idempotent
    // expiry on the same pinned cutoff) — the oracle applies verbatim
    "s9_stream_ttl" ->
      s"""WITH cutoff AS (
         |  SELECT max(CAST(date_trunc('day', ts) AS DATE))
         |    - ${TtlDays - 1} AS c
         |  FROM events)
         |SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM events, cutoff
         |WHERE CAST(date_trunc('day', ts) AS DATE) >= c
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
