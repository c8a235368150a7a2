package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** c16: bloom-filter point lookup — ClickHouse's `bloom_filter` skip
  * index re-expressed with parquet's own column bloom filters.
  *
  * The problem it solves at 100 TB: a needle-in-haystack lookup
  * (`user_id IN (…)`) over data that is NOT sorted or partitioned by
  * the key. Min/max (zone-map) pruning is useless there — every row
  * group's [min, max] spans the whole key domain — and partitioning
  * by a high-cardinality key is a small-files disaster. Parquet
  * bloom filters are the third lever: each row group carries a
  * compact membership sketch of its key values; the reader tests the
  * pushed `In` predicate against the sketch and skips row groups
  * that definitely lack all probed keys, reading their bytes never.
  *
  * Spark-native shape:
  *  - The LAYOUT is a one-time rewrite of the events table with
  *    `parquet.bloom.filter.enabled#user_id=true` and a small row
  *    group size (the skip unit — at 100 TB the default 128 MB row
  *    group is right; here it is shrunk so one test file has many
  *    skippable units). The [[graft.sources.LocalIndex]] ensure
  *    discipline keeps it fresh.
  *  - The LOOKUP is a plain declarative filter+aggregate: Catalyst
  *    pushes the `In` to the scan (`PushedFilters: [In(user_id, …)]`
  *    — spec-pinned), parquet-mr evaluates it against each row
  *    group's bloom before decoding. No code in the query knows the
  *    bloom exists — the layout IS the optimization, exactly like
  *    ClickHouse's declared skip index.
  *  - Aggregates here are exact integers (counts, min/max ids) so
  *    the gate hashes bit-for-bit.
  *
  * Regime note (spec-pinned): parquet-mr intentionally OMITS the
  * bloom for a column chunk whose pages are all dictionary-encoded —
  * the dictionary page is already an exact membership filter and the
  * reader prunes row groups with it. So low-NDV corpora (small SFs)
  * serve point lookups off dictionary pruning, and the bloom kicks
  * in exactly when it matters: once the key's NDV outgrows the
  * dictionary — the 100 TB regime. Declaring the layout option is
  * what arms whichever mechanism applies.
  *
  * Oracle: the same lookup over the RAW events table — proving the
  * bloom layout changes bytes read, not results.
  */
object BloomLookup {

  /** Probed keys: mostly present at every SF, the tail absent at
    * small SFs (user_id domain grows with SF) — bloom's definite-no
    * path and the hit path are both exercised. */
  val LookupUsers: Seq[Long] = Seq(7L, 23L, 48L, 101L, 149L)

  /** Row-group size of the rewritten layout (bytes). Small here so a
    * sandbox-sized file still has many independently skippable row
    * groups; at 100 TB leave parquet's default. */
  val BlockSize = 128 * 1024

  def layoutPath(d: String): String =
    graft.sources.LocalIndex.path("bloom-events", d, "_u")

  /** Rewrite events with a user_id bloom filter per row group. */
  def ensureLayout(s: SparkSession, d: String): String =
    graft.sources.LocalIndex.ensure("bloom-events", d, "_u",
      Seq(s"$d/events.parquet"), "") { path =>
      Tables.events(s, d)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.block.size", BlockSize.toString)
        .parquet(path)
    }

  /** Point lookup served from the bloom layout. */
  def lookup(s: SparkSession, d: String,
      users: Seq[Long] = LookupUsers): DataFrame =
    Tables.loadLayout(s, ensureLayout(s, d))
      .filter(col("user_id").isin(users.map(Long.box): _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("user_id"))

  def c16Query(s: SparkSession, d: String): DataFrame = lookup(s, d)

  def oracle: String =
    s"""SELECT user_id, count(*)::BIGINT AS n_events,
       |       count(DISTINCT event_type)::BIGINT AS n_types,
       |       min(event_id) AS min_event, max(event_id) AS max_event
       |FROM events WHERE user_id IN (${LookupUsers.mkString(", ")})
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
