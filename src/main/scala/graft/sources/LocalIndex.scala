package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Bookkeeping for locally persisted derived datasets — the ANN
  * indexes ([[graft.operators.Ann]]) and the ingest-combine cache
  * ([[graft.operators.VectorSearch.ensureCombined]]): build once per
  * (source corpus, parameters), serve every later query from the
  * written layout (the reference's index-once-query-many usage,
  * `search.py:20-35` / `process.py:95-120`). At 100 TB the same
  * ensure-shape points at warehouse paths instead of tmpdir; the
  * staleness fingerprint is what keeps a cache honest in both.
  */
object LocalIndex {

  /** Cache dir for (kind, corpus dir, variant suffix). The sanitized
    * corpus path keeps the name readable; the appended hash of the RAW
    * path keeps distinct corpora distinct — `/data/a` and `/data_a`
    * sanitize to the same text and would otherwise collide onto one
    * directory, thrashing rebuilds on every alternation. The leaf
    * starts with `c`: an absolute path sanitizes to a leading `_`,
    * and Spark treats `_`- and `.`-prefixed paths as hidden (every
    * layout read would log that all its paths were ignored). */
  def path(kind: String, d: String, suffix: String): String =
    new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-$kind/c" + d.replaceAll("[^A-Za-z0-9._-]", "_") +
        f"_${d.hashCode & 0xffffffffL}%08x" + suffix).getPath

  /** Fingerprint of source files on disk (names, lengths, mtimes):
    * cheap — no data read — and catches a regenerated corpus, which
    * must invalidate every index built from the old rows. */
  def fingerprint(paths: Seq[String]): String =
    paths.map { p =>
      val f = new java.io.File(p)
      val files =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq else Seq(f)
      files.map(x => s"${x.getName}:${x.length}:${x.lastModified}").mkString("|")
    }.mkString("||")

  /** Run `build(dir)` iff the cache is absent or stale, then publish
    * the fingerprint marker `_GRAFT_SRC` ATOMICALLY (temp file +
    * rename): a concurrent process sees either no marker — and
    * rebuilds, an idempotent overwrite — or a complete one; never a
    * torn half-written fingerprint that could validate a partial
    * index. `_SUCCESS` (written by Spark) marks data completeness,
    * `_GRAFT_SRC` marks source match; freshness requires both. */
  def ensure(kind: String, d: String, suffix: String, fp: String)
            (build: String => Unit): String = {
    val dir = path(kind, d, suffix)
    val src = Paths.get(dir, "_GRAFT_SRC")
    val fresh = new java.io.File(dir, "_SUCCESS").exists() &&
      Files.exists(src) &&
      new String(Files.readAllBytes(src), "UTF-8") == fp
    if (!fresh) {
      build(dir)
      val tmp = Files.createTempFile(Paths.get(dir), "_GRAFT_SRC", ".tmp")
      Files.write(tmp, fp.getBytes("UTF-8"))
      try Files.move(tmp, src,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        // non-POSIX tmpdir: plain replace keeps correctness (the
        // reader re-validates content), only the no-torn-write
        // guarantee weakens
        Files.move(tmp, src, StandardCopyOption.REPLACE_EXISTING)
      }
      ()
    }
    dir
  }

  /** Per-DATA-FILE manifest of the source paths: one `abspath:len:mtime`
    * entry per data file, sorted, metadata files (`_SUCCESS`, `.crc`,
    * markers — anything dot- or underscore-prefixed) excluded so an
    * append that rewrites `_SUCCESS` doesn't read as a mutation of the
    * old shards. The exclusion is what makes grow-only detection
    * possible; [[fingerprint]] keeps its all-files form for the
    * all-or-nothing caches. */
  def dataManifest(paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val f = new java.io.File(p)
      val files =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq else Seq(f)
      files.filter(x => x.isFile &&
          !x.getName.startsWith("_") && !x.getName.startsWith("."))
        .map(x => s"${x.getAbsolutePath}:${x.length}:${x.lastModified}")
    }.sorted

  private def writeMarker(dir: String, content: String): Unit = {
    val src = Paths.get(dir, "_GRAFT_SRC")
    val tmp = Files.createTempFile(Paths.get(dir), "_GRAFT_SRC", ".tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    try Files.move(tmp, src,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, src, StandardCopyOption.REPLACE_EXISTING)
    }
    ()
  }

  /** Read-only freshness probe for an [[ensureIncremental]]-managed
    * cache: Some(dir) iff the cache exists, is complete, and its stored
    * `extra ## manifest` marker matches the sources' CURRENT data-file
    * manifest exactly. Never builds — callers that can serve from the
    * cache opportunistically (the projection-rewrite optimizer rule)
    * use this; anything that must HAVE the cache calls
    * [[ensureIncremental]]. */
  def freshDir(kind: String, d: String, suffix: String,
               sources: Seq[String], extra: String): Option[String] = {
    val dir = path(kind, d, suffix)
    val src = Paths.get(dir, "_GRAFT_SRC")
    if (!new java.io.File(dir, "_SUCCESS").exists() || !Files.exists(src)) None
    else {
      val marker = extra + "##" + dataManifest(sources).mkString("|")
      if (new String(Files.readAllBytes(src), "UTF-8") == marker) Some(dir)
      else None
    }
  }

  /** [[ensure]] with an INCREMENTAL-APPEND fast path — the 100 TB shard
    * pattern (the reference appends shard batches continuously,
    * process.py:95-120; rebuilding a corpus-sized index per shard is
    * the one thing that must not happen). The marker stores
    * `extra ## manifest-entry|...`; on re-ensure:
    *
    *  - marker == current state            → serve as-is;
    *  - same `extra`, every OLD data file byte-identical (path, len,
    *    mtime), only NEW files added       → `append(newFiles, dir)`
    *    writes JUST the new shard's rows into the existing layout,
    *    marker updated atomically after;
    *  - anything else (a mutated/removed old shard, a changed `extra`
    *    — e.g. a retrained codebook)       → full `build`, the honest
    *    fallback.
    *
    * Each append adds at most one file per partition dir; periodic
    * compaction (the c7 layout job) folds them back — the standard
    * LSM-ish trade for index freshness at scale. */
  def ensureIncremental(kind: String, d: String, suffix: String,
                        sources: Seq[String], extra: String)
                       (build: String => Unit)
                       (append: (Seq[String], String) => Unit): String = {
    val dir = path(kind, d, suffix)
    val now = dataManifest(sources)
    val marker = extra + "##" + now.mkString("|")
    val src = Paths.get(dir, "_GRAFT_SRC")
    val stored =
      if (new java.io.File(dir, "_SUCCESS").exists() && Files.exists(src))
        Some(new String(Files.readAllBytes(src), "UTF-8"))
      else None
    val storedParts = stored.map { m =>
      val i = m.lastIndexOf("##")
      if (i < 0) ("", Seq.empty[String])
      else (m.take(i),
        m.drop(i + 2).split('|').toSeq.filter(_.nonEmpty))
    }
    storedParts match {
      case Some((ex, old)) if ex == extra && old == now => // fresh
      case Some((ex, old)) if ex == extra && old.nonEmpty &&
          old.forall(now.contains) =>
        val newFiles = now.filterNot(old.contains)
          // strip the trailing :len:mtime (the path itself may hold ':')
          .map(e => e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1)))
        if (newFiles.nonEmpty) append(newFiles, dir)
        writeMarker(dir, marker)
      case _ =>
        build(dir)
        writeMarker(dir, marker)
    }
    dir
  }

  /** Corpus row count from parquet FOOTERS, driver-side — no Spark
    * job, no data pages decoded: footers are a few KB per file
    * whatever the data volume, so a capacity guard that only needs n
    * (e.g. [[graft.operators.Dedup.embeddingNearDup]]'s occupancy
    * cliff) doesn't pay an extra source scan per invocation. */
  def parquetRowCount(path: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val f = new java.io.File(path)
    val files = (if (f.isDirectory) f.listFiles().toSeq else Seq(f))
      .filter(x => x.isFile && x.getName.endsWith(".parquet") &&
        !x.getName.startsWith("_") && !x.getName.startsWith("."))
    files.map { x =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(x.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
