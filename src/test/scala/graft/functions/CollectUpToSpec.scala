package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** collect_up_to: collect_list below the limit, exactly `limit`
  * elements at and above it, under real partial/final merges and the
  * sort-based fallback; limit contracts. */
class CollectUpToSpec extends SparkSpec {
  import spark.implicits._

  /** Groups of 3, 5, 10 and 15 rows over values 0..n-1, spread over
    * `parts` map partitions. */
  private val sizes = Map(1L -> 3, 2L -> 5, 3L -> 10, 4L -> 15)
  private def rows(parts: Int): DataFrame =
    sizes.toSeq.flatMap { case (g, n) => (0 until n).map(v => (g, v.toLong)) }
      .toDF("g", "v").repartition(parts)

  /** g → collected values, via a plain groupBy (no pre-repartition on
    * g, so partial buffers from every map partition merge). */
  private def collected(df: DataFrame, limit: Int): Map[Long, Seq[Long]] = {
    collectupto.register(spark)
    df.groupBy(col("g"))
      .agg(collectupto.collectUpTo(col("v"), limit).as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  private def checkAll(parts: Int): Unit = {
    val got = collected(rows(parts), 10)
    val all = rows(parts).groupBy(col("g")).agg(collect_list(col("v")).as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // under the limit: collect_list as a multiset
    Seq(1L, 2L).foreach(g => got(g).sorted shouldBe all(g).sorted)
    // at the limit (10 rows) and past it (15 rows): exactly 10 distinct
    // input values, taken from the group
    Seq(3L, 4L).foreach { g =>
      got(g) should have size 10
      got(g).distinct should have size 10
      got(g).foreach(v => all(g) should contain(v))
    }
  }

  test("equals collect_list under the limit; exactly limit elements at and above it") {
    for (parts <- Seq(1, 3)) checkAll(parts)
  }

  test("partials each under the limit merge to exactly the limit") {
    // 4 map partitions of 3 rows each: every partial buffer (3) is
    // under the limit (5), their merge (12) is over it
    val df = spark.sparkContext
      .parallelize((0 until 12).map(v => (1L, v.toLong)), 4).toDF("g", "v")
    df.rdd.glom().collect().map(_.length).toSeq shouldBe Seq(3, 3, 3, 3)
    val got = collected(df, 5)(1L)
    got should have size 5
    got.distinct should have size 5
    // and a group exactly at the limit across partitions keeps all
    collected(df.filter(col("v") < 5), 5)(1L).sorted shouldBe (0L until 5L)
  }

  test("same results through serialize/deserialize and the sort-based fallback") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      for (parts <- Seq(1, 3)) checkAll(parts)
    } finally spark.conf.set(key, prev)
  }

  test("nulls are skipped and do not count toward the limit; SQL path works") {
    collectupto.register(spark)
    Seq[(Long, Option[Long])]((1L, None), (1L, Some(7L)), (1L, None), (1L, Some(8L)))
      .toDF("g", "v").createOrReplaceTempView("cut_in")
    spark.sql("SELECT collect_up_to(v, 2) FROM cut_in")
      .collect().head.getSeq[Long](0).sorted shouldBe Seq(7L, 8L)
  }

  test("a non-literal or < 1 limit fails analysis") {
    collectupto.register(spark)
    Seq((1L, 2)).toDF("v", "k").createOrReplaceTempView("cut_k")
    intercept[Exception](
      spark.sql("SELECT collect_up_to(v, k) FROM cut_k").collect())
      .getMessage should include("literal")
    intercept[Exception](
      spark.sql("SELECT collect_up_to(v, 0) FROM cut_k").collect())
      .getMessage should include(">= 1")
    intercept[Exception](
      spark.sql("SELECT collect_up_to(v, -3) FROM cut_k").collect())
      .getMessage should include(">= 1")
  }
}
