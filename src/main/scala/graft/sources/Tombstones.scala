package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Tombstone sidecars — deletion propagation for persisted derived
  * layouts (posting indexes, ANN indexes): a deleted key's rows
  * scatter across the layout's partitions (a doc's postings across
  * every token bucket, a vector's row inside its cell file), so an
  * eager delete would be a layout rewrite per request. Instead the
  * deleted key set — BOUNDED by the mutation contract
  * ([[graft.operators.Mutation]]) — lands in an underscore-prefixed
  * sidecar dir inside the layout:
  *
  *  - invisible to every data scan (Spark ignores `_`-prefixed paths)
  *    and to the data-file manifest lifecycle, so registering a
  *    delete leaves EVERY data file byte-identical;
  *  - served via a bounded broadcast anti-join (O(|deleted|) extra
  *    work per query, zero bytes rewritten) — ClickHouse's
  *    lightweight-DELETE `_row_exists` trade;
  *  - folded physically by [[compact]] (one aligned rewrite), which
  *    CARRIES the sidecar (the durable deletion ledger — an anti-join
  *    against already-absent keys is a no-op) and the `_GRAFT_SRC`
  *    lifecycle marker, so the ensure contract never reads compaction
  *    as staleness and rebuilds the deleted rows back from the
  *    unchanged source.
  *
  * Accumulate semantics: [[write]] UNIONS the incoming ids with the
  * set already in the sidecar before persisting (the overwrite is only
  * the persistence mechanism), so independent delete registrations
  * compose — a second request with different keys can never resurrect
  * earlier, not-yet-compacted deletes — and re-deletes stay idempotent.
  *
  * Lifecycle boundary: a full REBUILD from source (overwrite write)
  * drops the sidecar with the old dir — correct, because the rebuild
  * re-derives the layout from the source, and the durable compliance
  * action is the c20 CORPUS mutation: once the source row is deleted,
  * a rebuild never re-creates the derived rows. The sidecar covers the
  * window between the delete request and the next source-consistent
  * rebuild/compaction — ClickHouse's mutation queue plays the same
  * role.
  */
object Tombstones {

  def path(layoutDir: String): String = layoutDir + "/_tombstones"

  /** Per-layout write monitors: the read-union-overwrite below is NOT
    * atomic, so two concurrent registrations against the same layout
    * could interleave and silently drop one set — the exact
    * resurrection the union semantics exist to prevent. One JVM-level
    * lock per canonical layout path serializes them (the semCodebooks
    * ConcurrentHashMap discipline). Cross-PROCESS writers remain a
    * single-writer contract, like every layout mutation here: the
    * ensure/rebuild lifecycle already assumes one maintaining process
    * per layout. */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Register `ids` as deleted (sidecar-only write): the incoming set
    * is UNIONED with any set already registered — the mutation contract
    * keeps both bounded, so the merge is a driver-side set union — and
    * the merged set is persisted atomically-enough via overwrite.
    * Serialized per layout via [[writeLocks]]. */
  def write(s: SparkSession, layoutDir: String, keyCol: String,
      ids: Seq[Long]): Unit = {
    import s.implicits._
    val key = java.nio.file.Paths.get(layoutDir)
      .toAbsolutePath.normalize.toString
    writeLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val prior = read(s, layoutDir, keyCol)
        .map(_.collect().map(_.getLong(0)).toSeq).getOrElse(Seq.empty)
      // Idempotent re-delete fast path: if every incoming id is already
      // registered, the union IS the prior set — skip the rewrite (a
      // re-run of a delete gate re-registers the same pinned set every
      // time; rewriting an identical sidecar per run is a pure
      // write-job tax). `prior.nonEmpty` guards the never-registered +
      // empty-ids case, which must still create the sidecar.
      if (!(prior.nonEmpty && ids.forall(prior.toSet))) {
        (prior ++ ids).distinct.sorted.toDF(keyCol).coalesce(1)
          .write.mode("overwrite").parquet(path(layoutDir))
      }
    }
  }

  /** The live deleted set, if any delete was ever registered.
    *
    * Schema is supplied, not inferred: the sidecar is always exactly
    * the single BIGINT key column [[write]] persists, and the
    * footer-inference pass `s.read.parquet` would otherwise run is a
    * whole driver job. No `distinct()` either — [[write]] persists a
    * distinct sorted set (and [[compact]] re-persists via write), so
    * a per-read dedup exchange was pure overhead on every serve and
    * every registration's prior-read. A delete gate reads the sidecar
    * ~5× per run (pinned-set read, one prior-read per serving copy,
    * the serve's anti-join), so both savings multiply.
    *
    * A supplied schema whose column the files lack reads as all-null
    * keys, and an anti-join against null keys hides nothing — deleted
    * rows would come back. So the sidecar's own column is checked
    * first, from one part-file footer on the driver (no Spark job),
    * and a `keyCol` that is not it fails loudly. */
  def read(s: SparkSession, layoutDir: String, keyCol: String): Option[DataFrame] = {
    val p = path(layoutDir)
    if (new java.io.File(p, "_SUCCESS").exists()) {
      val stored = storedKeyCol(s, p)
      require(stored.forall(_ == keyCol),
        s"tombstone sidecar $p is keyed by ${stored.get}, not $keyCol")
      Some(s.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            keyCol, org.apache.spark.sql.types.LongType))))
        .parquet(p))
    } else None
  }

  /** The key column [[write]] persisted in the sidecar, read from the
    * footer of one of its part files; None for a sidecar without part
    * files. */
  private def storedKeyCol(s: SparkSession, sidecar: String): Option[String] =
    Option(new java.io.File(sidecar).listFiles()).toSeq.flatten
      .find(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            s.sparkContext.hadoopConfiguration))
        try r.getFileMetaData.getSchema.getFields.get(0).getName
        finally r.close()
      }

  /** Hide deleted keys from a (pruned) scan: bounded broadcast
    * anti-join; identity when no delete was ever registered. */
  def filterLive(s: SparkSession, layoutDir: String, keyCol: String)
      (scan: DataFrame): DataFrame =
    read(s, layoutDir, keyCol)
      .map(t => scan.join(broadcast(t), Seq(keyCol), "left_anti"))
      .getOrElse(scan)

  /** Fold the deleted rows out of the layout physically: one
    * partition-aligned rewrite; serve results are identical before and
    * after (spec-pinned per layout). Sidecar and lifecycle marker are
    * carried through the swap — see the object scaladoc. */
  def compact(s: SparkSession, layoutDir: String, keyCol: String,
      partitionCol: String): Unit =
    read(s, layoutDir, keyCol).foreach { t =>
      val rows = s.read.parquet(layoutDir)
        .join(broadcast(t), Seq(keyCol), "left_anti")
      val marker = java.nio.file.Paths.get(layoutDir, "_GRAFT_SRC")
      val markerBytes =
        if (java.nio.file.Files.exists(marker))
          Some(java.nio.file.Files.readAllBytes(marker))
        else None
      val ids = t.collect().map(_.getLong(0)).toSeq // bounded set
      graft.streaming.Compaction.rewrite(layoutDir) { tmp =>
        rows.repartition(col(partitionCol))
          .write.mode("overwrite").option("compression", "zstd")
          .partitionBy(partitionCol).parquet(tmp)
        write(s, tmp, keyCol, ids)
        markerBytes.foreach(b => java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "_GRAFT_SRC"), b))
      }
    }
}
