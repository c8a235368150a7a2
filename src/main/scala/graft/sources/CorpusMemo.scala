package graft.sources

/** Driver-side state derived from one table of a corpus dir (a trained
  * codebook, a tree, term statistics), one entry per dir, valid by the
  * one staleness rule ([[DataManifest.compare]]) against the table's
  * data files:
  *
  *  - `growOnly = false` (rebuild-on-change): any change re-derives;
  *  - `growOnly = true`: an unchanged or only-grown table serves the
  *    cached value. State that persisted layouts were written under
  *    must stay fixed while the corpus grows (a retrained codebook
  *    would silently invalidate every persisted cell assignment); a
  *    rewritten or removed file re-derives.
  *
  * The manifest is read BEFORE `derive` runs, so a corpus rewritten
  * while it runs is stored under the old manifest and re-derived on the
  * next call, never served as current. `derive` runs outside any map
  * lock: it is a Spark workload that may call another memo, and a
  * duplicate derive on a race is cheaper than a long-held lock. */
final class CorpusMemo[V](table: String, growOnly: Boolean) {

  /** Identity-compared, so the adopt below replaces exactly the entry
    * it read. */
  private final class Entry(val manifest: Seq[String], val value: V)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def apply(d: String)(derive: => V): V = {
    val now = DataManifest.of(Seq(s"$d/$table.parquet"))
    val cur = entries.get(d)
    val valid = cur != null && (DataManifest.compare(cur.manifest, now) match {
      case DataManifest.Fresh => true
      case DataManifest.Grew(_) => growOnly
      case DataManifest.Changed => false
    })
    if (valid) {
      // a grown table adopts the current manifest, so a later rewrite of
      // an appended shard reads as a change. CAS against the entry read:
      // a plain put could overwrite a concurrent re-derive with this
      // thread's older value.
      if (cur.manifest != now) entries.replace(d, cur, new Entry(now, cur.value))
      cur.value
    } else {
      val v = derive
      entries.put(d, new Entry(now, v))
      v
    }
  }

  /** The cached value of `d`, whatever the corpus now holds: the
    * oracles embed the exact state the last served plan used. */
  def peek(d: String): Option[V] = Option(entries.get(d)).map(_.value)
}
