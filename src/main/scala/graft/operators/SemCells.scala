package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{textops, vectors}

/** Cell assignment for the semantic-dedup family (d9/d10) — flat OR
  * two-level (coarse→fine), the capacity-cliff fix the occupancy
  * guards pointed at through round 18.
  *
  * The single-level regime assigns each vector to one of k trained
  * centroids with the codegen'd [[Ann.nearestCentroid]] literal fold;
  * per-row cost is O(k·dim), which caps k at [[Dedup.SemMaxK]] and
  * therefore caps the corpus at k·[[Dedup.MaxNearDupBucket]] vectors —
  * the documented cliff (~2.05e6 vectors at the r18 constants).
  *
  * Past that, assignment goes TWO-LEVEL (the IVF/IMI shape — coarse
  * books route, per-region sub-books refine):
  *
  *  - a COARSE book of k_c ≤ SemMaxK centroids routes each vector to a
  *    region (the same codegen'd literal fold — pure map, no shuffle);
  *  - each region carries a FINE book of ≤ k_f ≤ SemMaxK centroids;
  *    the fine books ride a BROADCAST (region → book) table — one
  *    broadcast hash join, then the in-row argmin over the region's
  *    book as a higher-order array fold. Per-row cost is
  *    O((k_c + k_f)·dim) — minimized by the balanced split
  *    k_c ≈ k_f ≈ √k_total — while the effective cell count is
  *    k_c·k_f ≤ SemMaxK², moving the occupancy cliff 4096× out
  *    (~8.4e9 vectors). Beyond THAT the same recursion nests again
  *    (three-level); the guards stay loud at the new cliff.
  *
  * Composite cell id = coarse_rank · [[FineStride]] + fid — a plain
  * BIGINT, so everything downstream (the [[Dedup.cappedBuckets]]
  * bucket step, the d10 `partitionBy(cell)` layout and its
  * planning-time pruning) is unchanged.
  *
  * Scale notes: the broadcast fine-book table is Σk_f·dim doubles
  * (≤ ~40 MB at the stress design point); past broadcast range the
  * same join degrades gracefully to a co-partitioned shuffle join on
  * the region key (the book table is written region-partitioned) —
  * the row side carries only the region id, never the book. Training
  * cost per Lloyd pass is one corpus scan + a (cell, dim) partial
  * aggregate, the [[Ann.trainCodebook]] discipline at both levels.
  */
object SemCells {

  /** fid namespace width. Both levels are ≤ [[Dedup.SemMaxK]] = 4096,
    * so composite ids stay < 2^24 — int-range, partition-dir-safe. */
  val FineStride = 4096L

  /** Fine-book Lloyd passes. Fewer than the coarse book's
    * [[Ann.KMeansIters]]: the coarse routing has already localized
    * each region, so fine centroids start near-converged. */
  val FineIters = 3

  sealed trait Assigner {
    /** Total cell count (what `k` meant in the flat regime). */
    def k: Long
    /** `df` plus a `out` BIGINT cell-id column (embedding untouched). */
    def withCell(df: DataFrame, out: String): DataFrame
  }

  /** Single-level: the historical path, bit-identical to the pre-r19
    * assignment (same codebook, same codegen'd argmin). */
  final case class Flat(cents: Seq[(Long, Seq[Double])]) extends Assigner {
    def k: Long = cents.size.toLong
    def withCell(df: DataFrame, out: String): DataFrame =
      df.withColumn(out, Ann.nearestCentroid(cents, col("embedding")))
  }

  /** Two-level: `coarse` is dense-ranked 0..k_c−1; `fine(region)` is
    * that region's book, fid = position.
    *
    * Assignment is ONE codegen'd expression
    * ([[graft.functions.TwoLevelCell]]): coarse argmin then the
    * winner region's fine argmin in the same fused loop, books riding
    * as flat reference objects — a pure map, no join, no shuffle. A
    * vector routed to a region that was EMPTY at train time (an
    * arriving d10 shard under a frozen assigner) gets fid 0 — the
    * region's single implicit cell — instead of being silently
    * dropped. Fine ties go to the smaller fid (the
    * [[Ann.nearestCentroid]] min-id rule). The first cut ran the fine
    * argmin as a broadcast-book join + higher-order array_min lambda:
    * interpreted per element, measured ~10× slower at the 2.2M
    * stress point — HOFs don't whole-stage-codegen. */
  final case class TwoLevel(coarse: Seq[(Long, Seq[Double])],
      fine: Map[Long, IndexedSeq[Seq[Double]]]) extends Assigner {
    require(coarse.map(_._1) == coarse.indices.map(_.toLong),
      "TwoLevel: coarse ids must be dense ranks 0..kc-1")
    def k: Long = fine.valuesIterator.map(_.size.toLong).sum

    private lazy val coarseFlat: Seq[Double] = coarse.flatMap(_._2)
    private lazy val cnts: Seq[Int] =
      coarse.indices.map(r => fine.get(r.toLong).map(_.size).getOrElse(0))
    private lazy val offs: Seq[Int] = cnts.scanLeft(0)(_ + _).init
    private lazy val fineFlat: Seq[Double] = coarse.indices.flatMap(r =>
      fine.getOrElse(r.toLong, IndexedSeq.empty).flatten)

    def withCell(df: DataFrame, out: String): DataFrame =
      df.withColumn(out, vectors.twoLevelCell(col("embedding"),
        coarseFlat, offs, cnts, fineFlat, FineStride))
  }

  private def asDoubles(v: Any): Seq[Double] = v match {
    case s: scala.collection.Seq[_] => s.toSeq.map {
      case f: Float => f.toDouble
      case d: Double => d
    }
  }

  /** Train an assigner for `kTotal` target cells: flat below `maxK`
    * (the historical path, byte-for-byte), two-level above. `seed`
    * supplies the level-appropriate deterministic seed codebook
    * (the caller's stride/hash discipline). */
  def train(embs: DataFrame, n: Long, kTotal: Int, maxK: Int,
      seed: (DataFrame, Long, Int) => Seq[(Long, Seq[Double])]): Assigner = {
    if (kTotal <= maxK)
      return Flat(Ann.trainCodebook(embs, seed(embs, n, kTotal)))
    val kc = math.ceil(math.sqrt(kTotal.toDouble)).toInt
    val kf = math.ceil(kTotal.toDouble / kc).toInt
    require(kc <= maxK && kf <= maxK,
      s"SemCells.train: k_total=$kTotal needs a $kc×$kf split beyond " +
        s"maxK=$maxK per level — three-level territory")
    // The fine-seed collect and every Lloyd-pass means collect hold
    // O(kTotal·dim) doubles on the driver (kc·kf cells × dim). Near the
    // advertised maxK² ceiling that is gigabytes — make the failure a
    // LOUD capacity statement here, not a driver OOM mid-collect. Dim
    // is read from one row (a constant-size probe); the 4× headroom
    // covers the collect's boxed Row overhead on top of the raw
    // doubles.
    val dim = embs.select(col("embedding")).head.getSeq[Any](0).size
    val bookBytes = kc.toLong * kf * dim * 8
    val budget = Runtime.getRuntime.maxMemory() / 4
    require(bookBytes <= budget,
      s"SemCells.train: k_total=$kTotal × dim=$dim fine books need " +
        f"~${bookBytes / 1e9}%.1f GB of driver memory (collect overhead " +
        f"included), over the ${budget / 1e9}%.1f GB quarter-heap budget " +
        "— raise driver memory or re-table with a smaller k target.")
    // coarse book (Lloyd, the a3 discipline), dense-ranked in cid order
    // so the fold's min-cid tie-break is preserved by the re-labeling
    val coarse = Ann.trainCodebook(embs, seed(embs, n, kc))
      .sortBy(_._1).zipWithIndex.map { case ((_, c), i) => (i.toLong, c) }
    val e = embs.select(col("vec_id"), col("embedding"))
    // route once; every fine Lloyd pass reuses the routed frame
    val routed = e
      .withColumn("_sc_c0", Ann.nearestCentroid(coarse, col("embedding")))
      .transform(Lineage.cut(_))
    // fine seeds: ≤ k_f members per region, spread by hash rank (a
    // deterministic pseudo-random pick — id-order would seed one
    // corner of the region)
    val w = Window.partitionBy(col("_sc_c0"))
      .orderBy(textops.hash60(col("vec_id").cast("string")), col("vec_id"))
    var books: Map[Long, IndexedSeq[Seq[Double]]] = routed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= kf)
      .select(col("_sc_c0"), (col("_rn") - 1).cast("long").as("_fid"),
        col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), asDoubles(r.get(2))))
      .groupBy(_._1)
      .map { case (c0, rs) => c0 -> rs.sortBy(_._2).map(_._3).toIndexedSeq }
    // Lloyd over ALL regions in one pass per iteration: composite-cell
    // assignment (broadcast books + in-row argmin), then the same
    // (cell, dim) mean partial aggregate as Ann.trainCodebook — driver
    // state Σk_f·dim doubles, one constant-size collect per pass.
    // Empty cells keep their seed centroid (the trainCodebook rule).
    for (_ <- 1 to FineIters) {
      val cur = TwoLevel(coarse, books)
      val means = cur.withCell(routed, "_cell")
        .select(col("_cell"), posexplode(col("embedding")))
        .groupBy(col("_cell"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cell, rs) => cell -> rs.sortBy(_._2).map(_._3).toSeq }
      books = books.map { case (c0, cs) =>
        c0 -> cs.zipWithIndex.map { case (cv, fid) =>
          means.getOrElse(c0 * FineStride + fid, cv)
        }.toIndexedSeq
      }
    }
    TwoLevel(coarse, books)
  }
}
