package graft.streaming

/** Background-merge support for the streaming maintainers — the
  * ClickHouse merge-tree analog of `OPTIMIZE`: part files accrete one
  * per micro-batch (BASELINE's 50-part stress measured a 2.0× serve
  * wall), so every N batches the maintenance loop folds the layout
  * back to its compact form using the SAME mergeable-state math the
  * serve path applies (partial-sum/HLL-union for rollup parts, FINAL
  * struct-max for upsert parts, day coalesce for TTL layouts) — which
  * is exactly why compaction cannot change any served result.
  */
object Compaction {

  /** Rewrite `dir` via a sibling tmp build + swap, holding the
    * layout's lock ([[graft.sources.LayoutCatalog.locked]]). A layout
    * that carried a generation stamp gets a fresh one in the swapped
    * directory: the stamp leaves the live directory before its files
    * do, so no reader of this JVM retains a half-deleted layout, and
    * the swapped files are never served under the old generation. An
    * unstamped layout stays unstamped. */
  def rewrite(dir: String)(build: String => Unit): Unit =
    graft.sources.LayoutCatalog.locked(dir) {
      val stamped = graft.sources.LayoutCatalog.generation(dir).isDefined
      val tmp = new java.io.File(dir + ".compacting")
      rm(tmp)
      build(tmp.toString)
      if (stamped) graft.sources.LayoutCatalog.stamp(tmp.toString)
      graft.sources.LayoutCatalog.unstamp(dir)
      val live = new java.io.File(dir)
      rm(live)
      require(tmp.renameTo(live), s"compaction swap failed for $dir")
    }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).foreach(rm)
    f.delete(); ()
  }

  /** Data part-file count under a layout — the accretion metric the
    * compaction suite asserts on. */
  def partFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new java.io.File(dir))
  }
}
