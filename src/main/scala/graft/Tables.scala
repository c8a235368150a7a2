package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated TPC-H-ish testdata.
  *
  * All reads are plain `spark.read.parquet` so Catalyst owns predicate
  * pushdown / column pruning; callers `select`/`filter` declaratively and
  * the scan only materialises what the plan needs. At 100 TB the same code
  * reads a partitioned directory tree — nothing here assumes single-file.
  */
object Tables {
  /** Per-JVM schema memo for [[load]] — the catalog role a metastore
    * plays in a deployed engine: without it, `spark.read.parquet`
    * re-runs footer schema inference as a driver JOB on every call,
    * and every query pays it once per input table (measured r22: 135
    * such jobs, ~4 s of stage wall, in ONE timed pass over the query
    * surface at sf0.1). Keyed on the absolute path, the table's
    * data-file manifest ([[graft.sources.DataManifest.of]]:
    * path, length and mtime of every data file) and the session's
    * schema-inference confs, so a part file replaced in place re-infers
    * whatever the directory's own mtime says, and a session that reads
    * parquet differently infers for itself; non-local paths (no stat
    * available) skip the memo rather than trust an unverifiable key.
    * Caches only the SCHEMA — every read still scans the parquet data
    * itself. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String], Seq[String]), org.apache.spark.sql.types.StructType]()

  private def localFile(p: String) =
    new java.io.File(if (p.startsWith("file:")) p.stripPrefix("file:") else p)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val f = localFile(p)
    if (f.exists) {
      val key = (f.getAbsolutePath,
        graft.sources.DataManifest.of(Seq(f.getPath)),
        graft.sources.LayoutCatalog.readConfs(spark))
      val sch = schemaMemo.computeIfAbsent(key,
        _ => spark.read.parquet(p).schema)
      spark.read.schema(sch).parquet(p)
    } else spark.read.parquet(p)
  }

  /** Read of an ENGINE-WRITTEN layout directory (posting / ANN / rollup
    * / parts layouts). A layout that carries a generation stamp is
    * served from its [[graft.sources.LayoutCatalog]] entry, so a warm
    * request lists no file and runs no schema inference; the entry's
    * key changes with every build, append, compaction and swap (the
    * catalog's invariant). A layout with no stamp (one a streaming
    * maintainer writes, say) is read from the directory, its schema
    * memoized on the directory's (mtime, size) and the session's
    * schema-inference confs. */
  def loadLayout(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LayoutCatalog.load(spark, dir).getOrElse {
      val f = localFile(dir)
      if (f.isDirectory) {
        val key = (f.getAbsolutePath, Seq(f.lastModified.toString, f.length.toString),
          graft.sources.LayoutCatalog.readConfs(spark))
        val sch = schemaMemo.computeIfAbsent(key,
          _ => spark.read.parquet(dir).schema)
        spark.read.schema(sch).parquet(dir)
      } else spark.read.parquet(dir)
    }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** events.ts is parquet TIMESTAMP(NANOS); Spark reads it as nano-count
    * LongType under `spark.sql.legacy.parquet.nanosAsLong` — convert to a
    * microsecond timestamp with exact integer division (`div`), matching
    * the ns→µs truncation the oracle engine applies when it reads the
    * same file. Double division would be lossy: epoch-ns (~1.7e18)
    * exceeds double's 2^53 exact-integer range. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** The ns→µs `ts` fix above, exposed for callers that read event
    * shard files directly (incremental rollup/index appends). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
