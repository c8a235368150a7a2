package graft.sources

/** The one staleness rule for state derived from a corpus: persisted
  * layouts ([[LocalIndex]]), the posting table
  * ([[graft.operators.Dedup.ensurePostingIndex]]) and the in-memory
  * trained state ([[CorpusMemo]]) all record the manifest of the data
  * files they were derived from and decide with [[compare]]. */
object DataManifest {

  /** One `abspath:len:mtime` entry per DATA file of the source paths,
    * sorted. Metadata files (`_SUCCESS`, `.crc`, markers — anything
    * dot- or underscore-prefixed) are excluded, so an append that
    * rewrites `_SUCCESS` does not read as a mutation of the old
    * shards. Cheap: file metadata only, no data read. */
  def of(paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val f = new java.io.File(p)
      val files =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq else Seq(f)
      files.filter(x => x.isFile &&
          !x.getName.startsWith("_") && !x.getName.startsWith("."))
        .map(x => s"${x.getAbsolutePath}:${x.length}:${x.lastModified}")
    }.sorted

  /** How a corpus moved since state was derived from manifest `old`. */
  sealed trait Delta
  /** Same data files, byte for byte. */
  case object Fresh extends Delta
  /** Every old data file is unchanged and `files` (paths) were added:
    * the ingest pattern, new shards landing beside old ones. */
  final case class Grew(files: Seq[String]) extends Delta
  /** An old data file was rewritten or removed. */
  case object Changed extends Delta

  def compare(old: Seq[String], now: Seq[String]): Delta =
    if (old == now) Fresh
    else if (old.nonEmpty && old.forall(now.toSet)) {
      val had = old.toSet
      // strip the trailing :len:mtime (the path itself may hold ':')
      Grew(now.filterNot(had).map(e =>
        e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1))))
    } else Changed
}
