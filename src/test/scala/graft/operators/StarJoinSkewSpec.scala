package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The hot-customer rehearsal for the star joins (q3/q5): one customer
  * owning 10% of orders — the key-skew shape that turns a shuffled
  * custkey join into a straggler at 100 TB.
  *
  * Two defenses, both pinned:
  *  1. At dim-broadcastable scale (the gate path), the customer side
  *     broadcasts — orders are never shuffled BY custkey, and the
  *     aggregate is partial (map-side combine collapses the hot key
  *     per input partition) → structurally skew-immune.
  *  2. At 100 TB the dim won't broadcast; the join becomes
  *     sort-merge on custkey. The pinned fallback is AQE's
  *     OptimizeSkewedJoin: with broadcast disabled and skew
  *     thresholds scaled to the toy corpus, the final adaptive plan
  *     must mark the join `skew=true` (the hot partition split into
  *     task-sized slices) and produce identical results.
  */
class StarJoinSkewSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.01"

  /** Orders with customer 1 owning ~10% of all orders. The payload
    * columns (totalprice, orderdate) ride along deliberately: without
    * them the hot partition's constant-key rows compress ~8× in the
    * shuffle and the byte-based skew detector cannot see the skew —
    * real order rows always carry payload. */
  private def skewedOrders(s: org.apache.spark.sql.SparkSession) =
    graft.Tables.orders(s, d)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, lit(1L))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))

  private def q3Shape(c: org.apache.spark.sql.DataFrame,
      o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("tp"))
      .orderBy(col("c_mktsegment"))

  test("broadcast path: hot customer never shuffles orders by custkey") {
    val c = graft.Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val df = q3Shape(c, skewedOrders(spark))
    val rows = df.collect()
    rows.map(_.getLong(1)).sum shouldBe
      graft.Tables.orders(spark, d).count()
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // partial aggregation: the hot segment collapses map-side
    p.split("HashAggregate").length should be >= 3
  }

  test("forced-shuffle path: AQE splits the skewed partition (skew=true)") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // scale the skew detector to the toy corpus: 32 partitions put the
    // median at ~500 orders while the hot key holds ~2000 (>2x median
    // and >4 KB); split slices target ~4 KB
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4k")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // multiple mappers: a skewed reduce partition is split by MAPPER
    // ranges, so a single-split input file could never be divided
    ss.conf.set("spark.sql.files.maxPartitionBytes", "32k")
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    val c = graft.Tables.customer(ss, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    // a skewed reduce partition is split by MAPPER ranges: the toy
    // parquet is one row group = one mapper (unsplittable), so fan the
    // scan out first — at real scale the input is thousands of mappers
    val df = q3Shape(c, skewedOrders(ss).repartition(16))
    val rows = df.collect() // AQE finalizes during execution
    val p = df.queryExecution.executedPlan.toString
    withClue(p.take(4000)) {
      p should include("SortMergeJoin")
      p should include("skew=true")
    }
    // identical result to the broadcast path
    val want = q3Shape(
      graft.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_mktsegment")),
      skewedOrders(spark)).collect()
    rows.map(r => (r.getString(0), r.getLong(1))) shouldBe
      want.map(r => (r.getString(0), r.getLong(1)))
  }
}
