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

  /** The sidecar's key column and id set, by canonical layout dir,
    * under the key they were read at: the layout's generation and the
    * nanosecond mtime of the sidecar's `_SUCCESS`. [[write]] and
    * [[compact]] publish a fresh generation of a stamped layout, so
    * the set is read once per generation and a warm live serve lists
    * no file. An unstamped layout is read from disk every time. */
  private val sets = new java.util.concurrent.ConcurrentHashMap[String,
    ((String, Long), (Option[String], Seq[Long]))]()

  /** Register `ids` as deleted (sidecar-only write): the incoming set
    * is UNIONED with any set already registered — the mutation contract
    * keeps both bounded, so the merge is a driver-side set union — and
    * the merged set is persisted atomically-enough via overwrite. The
    * read-union-overwrite is not atomic, so it runs under the layout's
    * [[LayoutCatalog.locked]]: two concurrent registrations in this JVM
    * could otherwise interleave and silently drop one set — the exact
    * resurrection the union semantics exist to prevent. Cross-PROCESS
    * writers remain a single-writer contract, like every layout
    * mutation here. A stamped layout gets a fresh generation after the
    * sidecar changes. */
  def write(s: SparkSession, layoutDir: String, keyCol: String,
      ids: Seq[Long]): Unit = {
    import s.implicits._
    LayoutCatalog.locked(layoutDir) {
      val prior = deleted(s, layoutDir, keyCol).getOrElse(Seq.empty)
      // Idempotent re-delete fast path: if every incoming id is already
      // registered, the union IS the prior set — skip the rewrite (a
      // re-run of a delete gate re-registers the same pinned set every
      // time; rewriting an identical sidecar per run is a pure
      // write-job tax). `prior.nonEmpty` guards the never-registered +
      // empty-ids case, which must still create the sidecar.
      if (!(prior.nonEmpty && ids.forall(prior.toSet))) {
        (prior ++ ids).distinct.sorted.toDF(keyCol).coalesce(1)
          .write.mode("overwrite").parquet(path(layoutDir))
        if (LayoutCatalog.generation(layoutDir).isDefined)
          LayoutCatalog.stamp(layoutDir)
      }
    }
  }

  /** The live deleted set as a driver-side frame (a `LocalRelation`),
    * if any delete was ever registered: see [[deleted]]. */
  def read(s: SparkSession, layoutDir: String, keyCol: String): Option[DataFrame] = {
    import s.implicits._
    deleted(s, layoutDir, keyCol).map(_.toDF(keyCol))
  }

  /** The registered deleted ids (distinct, sorted), if any delete was
    * ever registered; read once per generation of a stamped layout
    * ([[sets]]).
    *
    * Schema is supplied, not inferred: the sidecar is always exactly
    * the single BIGINT key column [[write]] persists, and the
    * footer-inference pass `s.read.parquet` would otherwise run is a
    * whole driver job. No `distinct()` either — [[write]] persists a
    * distinct sorted set (and [[compact]] re-persists via write).
    *
    * A supplied schema whose column the files lack reads as all-null
    * keys, and an anti-join against null keys hides nothing — deleted
    * rows would come back. So the set is read under the sidecar's own
    * column, named by one part-file footer on the driver (no Spark
    * job), and a `keyCol` that is not it fails loudly; the cached set
    * then serves every later read of the generation. */
  private def deleted(s: SparkSession, layoutDir: String,
      keyCol: String): Option[Seq[Long]] = {
    val p = path(layoutDir)
    val success = java.nio.file.Paths.get(p, "_SUCCESS")
    if (!java.nio.file.Files.exists(success)) None
    else {
      def load(): (Option[String], Seq[Long]) = {
        val stored = storedKeyCol(s, p)
        (stored, s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(stored.getOrElse(keyCol),
              org.apache.spark.sql.types.LongType))))
          .parquet(p).collect().map(_.getLong(0)).toSeq)
      }
      val (stored, ids) = LayoutCatalog.generation(layoutDir) match {
        case None => load()
        case Some(gen) =>
          val key = (gen, java.nio.file.Files.getLastModifiedTime(success)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS))
          val dir = LayoutCatalog.canonical(layoutDir)
          Option(sets.get(dir)).collect { case (k, v) if k == key => v }
            .getOrElse { val v = load(); sets.put(dir, (key, v)); v }
      }
      require(stored.forall(_ == keyCol),
        s"tombstone sidecar $p is keyed by ${stored.get}, not $keyCol")
      Some(ids)
    }
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
    * partition-aligned rewrite under the layout's lock
    * ([[graft.streaming.Compaction.rewrite]] publishes the swapped
    * directory's generation); serve results are identical before and
    * after (spec-pinned per layout). Sidecar and lifecycle marker are
    * carried through the swap — see the object scaladoc. */
  def compact(s: SparkSession, layoutDir: String, keyCol: String,
      partitionCol: String): Unit = LayoutCatalog.locked(layoutDir) {
    deleted(s, layoutDir, keyCol).foreach { ids =>
      import s.implicits._
      val rows = s.read.parquet(layoutDir)
        .join(broadcast(ids.toDF(keyCol)), Seq(keyCol), "left_anti")
      val marker = java.nio.file.Paths.get(layoutDir, "_GRAFT_SRC")
      val markerBytes =
        if (java.nio.file.Files.exists(marker))
          Some(java.nio.file.Files.readAllBytes(marker))
        else None
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
}
