package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Bookkeeping for locally persisted derived datasets — the ANN
  * indexes ([[graft.operators.Ann]]) and the ingest-combine cache
  * ([[graft.operators.VectorSearch.ensureCombined]]): build once per
  * (source corpus, parameters), serve every later query from the
  * written layout (the reference's index-once-query-many usage,
  * `search.py:20-35` / `process.py:95-120`). At 100 TB the same
  * ensure-shape points at warehouse paths instead of tmpdir; the
  * stored data-file manifest ([[DataManifest]]) is what keeps a cache
  * honest in both.
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

  /** [[ensureIncremental]] with no append path: any change to the
    * sources' data files (grown included) rebuilds the layout. */
  def ensure(kind: String, d: String, suffix: String,
             sources: Seq[String], extra: String)
            (build: String => Unit): String =
    ensureIncremental(kind, d, suffix, sources, extra)(build)((_, dir) => build(dir))

  /** [[ensure]] with an INCREMENTAL-APPEND fast path — the 100 TB shard
    * pattern (the reference appends shard batches continuously,
    * process.py:95-120; rebuilding a corpus-sized index per shard is
    * the one thing that must not happen). On re-ensure, with the same
    * `extra` ([[DataManifest.compare]] against the stored manifest):
    *
    *  - fresh                → serve as-is;
    *  - grew by new files    → `append(newFiles, dir)` writes JUST the
    *    new shards' rows into the existing layout;
    *  - anything else (a mutated/removed old shard, a changed `extra`
    *    — e.g. a retrained codebook) → full `build`, the honest
    *    fallback.
    *
    * Each append adds at most one file per partition dir; periodic
    * compaction (the c7 layout job) folds them back — the standard
    * LSM-ish trade for index freshness at scale.
    *
    * The work runs under the directory's lock and publishes the marker
    * `_GRAFT_SRC` (`extra##manifest`) and a fresh generation
    * ([[republish]]). `_SUCCESS` (written by Spark) marks data
    * completeness, the marker marks source match; freshness requires
    * both. Calls for one directory run one at a time in this JVM, so
    * concurrent callers on a cold directory run one build. */
  def ensureIncremental(kind: String, d: String, suffix: String,
                        sources: Seq[String], extra: String)
                       (build: String => Unit)
                       (append: (Seq[String], String) => Unit): String = {
    val dir = path(kind, d, suffix)
    LayoutCatalog.locked(dir) {
      val now = DataManifest.of(sources)
      val marker = extra + "##" + now.mkString("|")
      stored(dir, extra).fold[DataManifest.Delta](DataManifest.Changed)(
          DataManifest.compare(_, now)) match {
        case DataManifest.Fresh => adopt(dir)
        case DataManifest.Grew(files) => republish(dir, marker)(append(files, dir))
        case DataManifest.Changed => republish(dir, marker)(build(dir))
      }
    }
    dir
  }

  /** Read-only freshness probe: Some(dir) iff the layout exists, is
    * complete, and was derived under `extra` from exactly the sources'
    * current data files. Never builds — callers that can serve from the
    * layout opportunistically (the projection-rewrite optimizer rule)
    * use this; anything that must HAVE the layout ensures it. */
  def freshDir(kind: String, d: String, suffix: String,
               sources: Seq[String], extra: String): Option[String] = {
    val dir = path(kind, d, suffix)
    stored(dir, extra).filter(_ == DataManifest.of(sources)).map(_ => dir)
  }

  /** The manifest a complete layout was derived from under `extra`;
    * None when it is incomplete, unmarked or derived under another
    * `extra`. */
  private def stored(dir: String, extra: String): Option[Seq[String]] = {
    val src = Paths.get(dir, "_GRAFT_SRC")
    if (!new java.io.File(dir, "_SUCCESS").exists() || !Files.exists(src)) None
    else {
      val m = new String(Files.readAllBytes(src), "UTF-8")
      val head = extra + "##"
      if (!m.startsWith(head)) None
      else Some(m.drop(head.length).split('|').toSeq.filter(_.nonEmpty))
    }
  }

  /** The one way a managed layout changes: under the directory's lock,
    * retire its generation and its marker, run `change`, then publish
    * `marker` (temp file + atomic rename) and a fresh generation
    * ([[LayoutCatalog]]). A `change` that throws leaves the layout with
    * neither, so no reader retains it and the next ensure rebuilds it
    * from source; it is never appended to again. */
  private def republish(dir: String, marker: String)(change: => Unit): Unit = {
    LayoutCatalog.unstamp(dir)
    Files.deleteIfExists(Paths.get(dir, "_GRAFT_SRC"))
    change
    writeMarker(dir, marker)
    LayoutCatalog.stamp(dir)
  }

  /** Stamps a fresh layout that carries no generation yet (one written
    * before layouts were stamped): under the lock its files are the
    * ones its marker vouches for. */
  private def adopt(dir: String): Unit =
    if (LayoutCatalog.generation(dir).isEmpty) LayoutCatalog.stamp(dir)

  /** Writes the `_GRAFT_SRC` marker atomically (temp file + rename):
    * a concurrent process sees either no marker (and rebuilds, an
    * idempotent overwrite) or a complete one, never a torn marker
    * that could validate a partial layout. */
  private def writeMarker(dir: String, content: String): Unit = {
    val src = Paths.get(dir, "_GRAFT_SRC")
    val tmp = Files.createTempFile(Paths.get(dir), "_GRAFT_SRC", ".tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    try Files.move(tmp, src,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      // non-POSIX tmpdir: plain replace keeps correctness (the reader
      // re-validates content), only the no-torn-write guarantee weakens
      Files.move(tmp, src, StandardCopyOption.REPLACE_EXISTING)
    }
    ()
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
