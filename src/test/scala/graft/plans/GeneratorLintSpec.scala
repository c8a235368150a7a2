package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.InvertedIndex
import graft.streaming.EventStream

/** The generator-input lint: what it flags, that the test session runs
  * it on every plan it executes (other sessions of the context and
  * `foreachBatch` bodies included), and that the posting builds pass. */
class GeneratorLintSpec extends SparkSpec {
  import spark.implicits._

  private def docs(s: SparkSession): DataFrame = s.range(0, 64)
    .select(col("id").as("doc_id"),
      format_string("Doc %d: the table, the VALUE", col("id")).as("text"))

  /** `size` next to `explode` of one unmaterialized tokenizing
    * expression; `pattern` tags where a finding came from. */
  private def reEvaluating(d: DataFrame, pattern: String): DataFrame = {
    val t = regexp_extract_all(lower(col("text")), lit(pattern), lit(0))
    d.select(col("doc_id"), F.size(t).as("dl"), explode(t).as("token"))
  }

  test("size next to explode of one computed array is flagged; a materialized array is not") {
    val bad = GeneratorLint.findings(
      reEvaluating(docs(spark), "[a-z]+").queryExecution.executedPlan)
    bad should have size 1
    bad.head should (include("explode(regexp_extract_all") and include("Project"))
    val t = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
    val good = docs(spark).select(col("doc_id"), t.as("t"))
      .select(col("doc_id"), F.size(col("t")).as("dl"), explode(col("t")).as("token"))
    // an attribute input is never a finding, whatever reads it above
    GeneratorLint.findings(good.queryExecution.executedPlan) shouldBe empty
  }

  test("executed plans are linted: AQE stages, newSession(), foreachBatch bodies") {
    SparkSpec.lintFindings() shouldBe empty
    // an exchange above the Generate: the finding sits in an AQE stage
    reEvaluating(docs(spark), "[a-z]+").groupBy(col("token"), col("dl"))
      .count().collect()
    val other = spark.newSession()
    reEvaluating(docs(other), "[a-z0-9]+").collect()
    val root = java.nio.file.Files.createTempDirectory("graft-lint-").toString
    docs(spark).write.parquet(s"$root/in")
    other.readStream.schema(docs(spark).schema).parquet(s"$root/in")
      .writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        reEvaluating(b.toDF(), "[a-z0-9_]+").collect(); ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val found = SparkSpec.lintFindings()
    Seq("[a-z]+", "[a-z0-9]+", "[a-z0-9_]+").foreach { p =>
      withClue(s"$found: ") { found.exists(_.contains(s", $p, 0)")) shouldBe true }
    }
  }

  test("the posting builds pass the lint: build, append, indexMaintain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lint-idx-").toString
    def shard(ids: Range): Unit = ids.map(i => (i.toLong, s"table value $i part"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", F.length(col("text")))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    shard(0 until 20)
    InvertedIndex.ensureIndex(spark, dir)
    // grow-only append of a new shard file
    shard(20 until 30)
    InvertedIndex.ensureIndex(spark, dir)
    val src = spark.readStream.schema(spark.read.parquet(s"$dir/documents.parquet").schema)
      .parquet(s"$dir/documents.parquet")
    EventStream.indexMaintain(src, s"$dir/s10/idx", s"$dir/s10/ckpt")
      .awaitTermination()
    spark.read.parquet(s"$dir/s10/idx").count() should be > 0L
    SparkSpec.lintFindings() shouldBe empty
  }
}
