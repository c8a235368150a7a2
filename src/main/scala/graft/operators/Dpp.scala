package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** c18: dynamic partition pruning — ClickHouse prunes parts by the
  * primary-key/partition expression at query time; Spark's equivalent
  * for star-shaped filters is DPP: when a partitioned fact joins a
  * filtered dimension on the partition column, the dimension's
  * surviving keys are computed FIRST (reusing the join's broadcast)
  * and injected into the fact scan as a runtime partition filter —
  * only the matching partition DIRECTORIES are read.
  *
  * Why this matters at 100 TB: the "report over qualifying days"
  * query shape is endemic (dashboards, backfills, incident windows),
  * and the qualifying-day set is usually DATA-derived — not knowable
  * at plan time, so static pruning can't help. DPP turns the fact
  * side from a full-corpus scan into O(qualifying partitions) bytes
  * with zero query-code changes: the layout (day-partitioned, the
  * c15 lifecycle layout) plus the declarative join IS the
  * optimization.
  *
  * The gate: day-partitioned events fact, dimension = "peak days"
  * (days with above-average event counts — the threshold is exact
  * integer division, so both engines derive the identical day set
  * independently), report = per-type counts and cent sums over peak
  * days. Spec pins `dynamicpruningexpression` in the fact scan's
  * PartitionFilters and that the pruned scan reads fewer partitions
  * than the layout holds.
  *
  * Oracle: the same report straight off the raw events table —
  * proving the layout + DPP change bytes read, not results.
  */
object Dpp {

  def layoutPath(d: String): String =
    graft.sources.LocalIndex.path("day-events", d, "_full")

  /** Day-partitioned full-column events layout (the c15 lifecycle
    * layout carrying the whole row, so any report can serve off it). */
  def ensureLayout(s: SparkSession, d: String): String =
    graft.sources.LocalIndex.ensure("day-events", d, "_full",
      Seq(s"$d/events.parquet"), "") { path =>
      Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")).cast("date"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
    }

  /** Per-day event counts — the raw-corpus aggregate both the
    * threshold and the dimension derive from. Built FRESH per call
    * (day-domain-sized aggregate, one scan): the previous `.cache()`
    * matched by canonicalized plan/path and would keep serving stale
    * counts after an in-place corpus regeneration while
    * [[ensureLayout]] correctly rebuilt. The dim must
    * stay a Spark aggregate-with-filter over the scan (NOT a
    * driver-collected LocalRelation): the selective predicate on it is
    * what makes Catalyst's PartitionPruning rule insert the
    * dynamicpruningexpression the c18 gate pins. */
  private def dayCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(date_trunc("day", col("ts")).cast("date").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_day"))

  private val thresholds =
    new graft.sources.CorpusMemo[Long]("events", growOnly = false)

  /** Peak-day threshold: FLOOR of mean events per day — exact integer
    * division of two exact counts, so the oracle derives the same
    * number independently (no literal handoff needed). A driver
    * LITERAL (one bounded 2-long aggregate), memoized per corpus dir,
    * rebuild-on-change: a regenerated or grown corpus recomputes it. */
  def peakThreshold(s: SparkSession, d: String): Long =
    thresholds(d) {
      val r = dayCounts(s, d)
        .agg(sum(col("n_day")).as("n"), count(lit(1)).as("nd"))
        .collect().head
      // fail loudly on an empty corpus rather than dividing by zero —
      // the c15/Ttl listing-contract lesson (silent degenerate inputs
      // must not produce quiet nonsense)
      require(r.getLong(1) > 0, s"peakThreshold: no event days under $d")
      r.getLong(0) / r.getLong(1)
    }

  /** The peak-days report, served from the partitioned layout with
    * DPP pruning the fact scan to qualifying day directories. */
  def c18Query(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.loadLayout(s, ensureLayout(s, d))
    val t = peakThreshold(s, d)
    val dim = dayCounts(s, d).filter(col("n_day") > t)
    fact.join(broadcast(dim), Seq("day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("event_type"))
  }

  def oracle: String =
    """WITH days AS (
      |  SELECT date_trunc('day', ts)::DATE AS day, count(*) AS n_day
      |  FROM events GROUP BY 1),
      |thr AS (
      |  SELECT sum(n_day) // count(*) AS t FROM days),
      |peak AS (
      |  SELECT day FROM days, thr WHERE n_day > t)
      |SELECT event_type, count(*)::BIGINT AS n_events,
      |       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      |FROM events JOIN peak ON date_trunc('day', ts)::DATE = peak.day
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
