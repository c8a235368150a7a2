package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** c18 dynamic partition pruning: layout↔raw equivalence and the
  * runtime pruning expression landing in the fact scan. */
class DppSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("peak-days report off the layout matches the raw-table report") {
    val got = Dpp.c18Query(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val t = Dpp.peakThreshold(spark, sf)
    val withDay = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    val peak = withDay.groupBy(col("day")).agg(count(lit(1)).as("n"))
      .filter(col("n") > t).select(col("day"))
    val raw = withDay.join(peak, Seq("day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got shouldBe raw
    got.length should be > 0
  }

  test("the fact scan carries a dynamic pruning partition filter") {
    val p = Dpp.c18Query(spark, sf).queryExecution.executedPlan.toString
    withClue(p) {
      p should include("dynamicpruning")
      // and it prunes the PARTITION column of the layout
      p.split("PartitionFilters").exists(_.contains("day")) shouldBe true
    }
  }

  test("some days are actually pruned (the dim predicate is selective)") {
    val t = Dpp.peakThreshold(spark, sf)
    val days = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val total = days.count()
    val peak = days.filter(col("n") > t).count()
    peak should be > 0L
    peak should be < total
  }

  test("peakThreshold re-derives when events.parquet is regenerated in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp-regen-").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.write.parquet(s"$dir/events.parquet")
    val t = Dpp.peakThreshold(spark, dir)
    Dpp.peakThreshold(spark, dir) shouldBe t
    // every event twice: each day's count doubles, the day set stays
    raw.union(raw).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val days = graft.Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts"))).count().collect().map(_.getLong(1))
    val expected = days.sum / days.length
    expected should not be t
    Dpp.peakThreshold(spark, dir) shouldBe expected
  }
}
