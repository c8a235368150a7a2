package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.textops

/** Materialized sampling keys — ClickHouse's `SAMPLE BY` physics: a
  * ClickHouse table declares its sampling expression (e.g.
  * `intHash32(UserID)`) as part of the schema and computes it ONCE at
  * INSERT, so `SAMPLE 0.1` costs an integer compare per row, never a
  * hash. The r19 audit flagged the engine's three hash-sampling gates
  * (c2 / c12 / q66) for paying an md5 per row per query inside the
  * scan filter instead — pure CPU tax on every scan at 100 TB. This
  * ensure is the sandbox's stand-in for that ingest step: one cached
  * copy of the source table with the sampling hash60s precomputed as
  * columns, rebuilt only when the source's data files change (the c7 /
  * ANN-index lifecycle). The operators themselves keep a computed-hash
  * fallback for raw corpora, so the layout is an optimization, never a
  * requirement — and the hash VALUES are identical either way
  * ([[textops.hash60]]), so results and oracles are unchanged.
  *
  * At warehouse scale the extra copy disappears: the hash column is
  * written by ingest into the one layout that exists (c7's), exactly
  * like ClickHouse materialized columns.
  */
object SampleKeys {

  /** Documents with `smp_text` = hash60(text) (c2's stratum key) and
    * `smp_doc` = hash60(doc_id) (c12's shuffle key) materialized. */
  def documents(s: SparkSession, d: String): DataFrame = {
    val dir = LocalIndex.ensure("samplekeys-docs", d, "",
        Seq(s"$d/documents.parquet"), "smp-v1") { out =>
      graft.Spread.ifNarrow(Tables.documents(s, d))
        .withColumn("smp_text", textops.hash60(col("text")))
        .withColumn("smp_doc", textops.hash60(col("doc_id").cast("string")))
        .write.mode("overwrite").option("compression", "zstd").parquet(out)
    }
    Tables.loadLayout(s, dir)
  }

  /** Events with `smp_user` = hash60(user_id) (q66's sampling unit)
    * materialized. */
  def events(s: SparkSession, d: String): DataFrame = {
    val dir = LocalIndex.ensure("samplekeys-events", d, "",
        Seq(s"$d/events.parquet"), "smp-v1") { out =>
      graft.Spread.ifNarrow(Tables.events(s, d))
        .withColumn("smp_user", textops.hash60(col("user_id").cast("string")))
        .write.mode("overwrite").option("compression", "zstd").parquet(out)
    }
    Tables.loadLayout(s, dir)
  }
}
