package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.sources.BaseRelation

/** The serving catalog of persisted layouts: one entry per layout
  * directory, holding the layout's resolved relation (schema, file
  * index, partition values), so a warm request plans over it without
  * listing a file. This is the per-version metadata tier of the
  * Krypton serving design (VLDB 2023): requests read the catalog, not
  * storage.
  *
  * Invariant: a layout directory holds a generation stamp
  * ([[GenFile]]) only while its data files are exactly the ones the
  * named generation wrote. Every writer of this JVM that mutates a
  * stamped layout ([[LocalIndex.ensure]], [[LocalIndex.ensureIncremental]],
  * [[graft.streaming.Compaction.rewrite]]) does so under [[locked]],
  * removes the stamp before its first change and writes a fresh one
  * after its last, so the key below changes on every build, append,
  * compaction and swap. A marker is not a generation:
  * [[Tombstones.compact]] copies the old `_GRAFT_SRC` bytes into the
  * swapped directory verbatim.
  *
  * An entry's key is (stamp, mtimes of the directory and of its
  * `_SUCCESS`, schema-inference confs, session). The mtimes make a
  * write that bypasses the stamping writers miss as well: a public
  * writer such as [[graft.operators.Ann.appendLshShard]] called on an
  * index's own path rewrites `_SUCCESS`. The session is in
  * the key because the relation plans its scans with its own session's
  * confs. A directory with no stamp is not retained: [[load]] answers
  * None and the caller reads the directory itself.
  *
  * A frame built from an entry keeps that entry's file list: an append
  * that lands after it was built is not in its answer (a snapshot), and
  * a rebuild or compaction that deletes its files makes it fail with
  * the missing file, never answer from a mix of generations. */
object LayoutCatalog {

  val GenFile = "_GRAFT_GEN"

  /** Confs that shape parquet schema or partition-value inference. */
  private val ReadConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private[graft] def readConfs(spark: SparkSession): Seq[String] =
    ReadConfs.map(k => spark.conf.getOption(k).getOrElse(""))

  private final case class Key(gen: String, dirMtime: Long, successMtime: Long,
      confs: Seq[String], session: SparkSession)

  private val entries = new ConcurrentHashMap[String, (Key, BaseRelation)]()
  private val locks = new ConcurrentHashMap[String, Object]()

  private[graft] def canonical(dir: String): String =
    Paths.get(dir.stripPrefix("file:")).toAbsolutePath.normalize.toString

  /** Runs `f` holding the JVM-wide lock of layout `dir` (reentrant). */
  def locked[T](dir: String)(f: => T): T =
    locks.computeIfAbsent(canonical(dir), _ => new Object).synchronized(f)

  def generation(dir: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(dir, GenFile)), "UTF-8"))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Publishes a fresh generation for `dir` (temp file + atomic rename). */
  def stamp(dir: String): Unit = {
    val tmp = Files.createTempFile(Paths.get(dir), GenFile, ".tmp")
    Files.write(tmp, java.util.UUID.randomUUID.toString.getBytes("UTF-8"))
    try Files.move(tmp, Paths.get(dir, GenFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, Paths.get(dir, GenFile), StandardCopyOption.REPLACE_EXISTING)
    }
    ()
  }

  /** Retires `dir`'s generation and drops its entry. */
  def unstamp(dir: String): Unit = {
    Files.deleteIfExists(Paths.get(dir, GenFile))
    entries.remove(canonical(dir))
    ()
  }

  private def mtime(p: java.nio.file.Path): Long =
    try Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case _: java.nio.file.NoSuchFileException => -1L }

  private def keyOf(spark: SparkSession, dir: String): Option[Key] =
    generation(dir).map(g => Key(g, mtime(Paths.get(dir)),
      mtime(Paths.get(dir, "_SUCCESS")), readConfs(spark), spark))

  /** Total bytes of the data files under `frame`'s file relation whose
    * parent directory name passes `dir` (a partition directory such as
    * `tb=3`), read from the relation's file index in memory: a catalog
    * entry's index, or the one the frame's own read listed. Nothing is
    * listed here. None for a frame over no file index. */
  def partitionBytes(frame: DataFrame)(dir: String => Boolean): Option[Long] =
    frame.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case r: HadoopFsRelation => r.location
    }.collect {
      case fi: PartitioningAwareFileIndex =>
        fi.allFiles().filter(f => dir(f.getPath.getParent.getName)).map(_.getLen).sum
    }

  /** A frame over stamped layout `dir` from its entry, resolving the
    * entry on a miss; None if `dir` has no stamp. A miss resolves under
    * [[locked]], so it never lists a layout that a writer of this JVM is
    * changing. The schema is merged over every data file's footer: an
    * append that widened the schema shows its column, with nulls for
    * the rows written before it. */
  def load(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = canonical(dir)
    def hit(k: Key): Option[BaseRelation] =
      Option(entries.get(p)).collect { case (ek, r) if ek == k => r }
    keyOf(spark, p).flatMap(hit).orElse(locked(p) {
      keyOf(spark, p).map { k =>
        hit(k).getOrElse {
          val r = spark.read.option("mergeSchema", "true").parquet(p)
            .queryExecution.analyzed.asInstanceOf[LogicalRelation].relation
          entries.put(p, (k, r))
          r
        }
      }
    }).map(spark.baseRelationToDataFrame)
  }
}
