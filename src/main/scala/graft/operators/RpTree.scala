package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.vectors

/** a4: tree-based ANN — the reference's Annoy experiment
  * (`images/results_ridgeback_annoy_100m.png` comes from an Annoy
  * index over 100M LAION vectors) re-expressed as a median-split
  * random-projection tree (Dasgupta & Freund 2008, the algorithm
  * family Annoy instantiates: recursive hyperplane splits, spill
  * probing near planes).
  *
  * Spark-native shape — the tree is SMALL and the corpus is BIG:
  *  - The tree is `2^Depth - 1` internal nodes; each node holds a
  *    deterministic projection direction (same exact-binary-fraction
  *    discipline as the LSH planes) and a TRAINED threshold: the
  *    midpoint of the two order statistics straddling the median
  *    split of the vectors that reach that node (see [[train]] for
  *    why midpoint, not median). Training is one rank-window pass per
  *    level (`Depth` corpus scans, each producing ≤ 2^level
  *    (node, threshold) rows — a bounded driver collect, like a3's
  *    k-centroid codebook). At 100 TB the exact order statistics swap
  *    for `approx_percentile` bracketing per level; the plan shape is
  *    unchanged.
  *  - Leaf ASSIGNMENT is a pure codegen'd map: `Depth` staged
  *    (CASE-over-node → dot → compare) columns, no shuffle, no join —
  *    a vector's leaf is its root-to-leaf descent folded into an int.
  *  - QUERIES descend driver-side (bounded: Depth dots per query) and
  *    probe their own leaf plus the [[MaxFlips]] alternative leaves
  *    whose split margins |proj − thr| are smallest — Annoy's
  *    priority-queue spill descent as a deterministic driver-side
  *    probe-set computation. The probe set rides the plan as a
  *    literal map leaf → (query_id, qv) ([[Ann.probeRows]]; no probe
  *    table is broadcast), then exact cosine + per-query top-k:
  *    identical distributed shape to a2/a3, probing
  *    (MaxFlips+1)/2^Depth of the corpus.
  *  - a4_indexed persists the assignment `partitionBy("leaf")`
  *    ([[graft.sources.LocalIndex]]): probes prune to their leaf
  *    directories at PLANNING time. Rebuild-on-corpus-change, like
  *    Annoy's static index: a median tree retrained on changed data
  *    moves its thresholds, so old assignments would not commute —
  *    unlike the constant-plane LSH index, append is NOT sound here.
  *
  * Oracle: thresholds are data-trained but enter BOTH engines as the
  * same driver-held literals (the a3 trained-codebook discipline), so
  * DuckDB replays assignment, probe set, and scoring exactly.
  */
object RpTree {

  val Depth = 5            // 32 leaves
  val MaxFlips = 3         // probe = own leaf + 3 tightest-margin spills
  val K = Ann.K

  /** Node projection directions, heap-indexed 1..2^Depth-1. Exact
    * binary fractions (see [[VectorSearch.qvec]]) keep projections
    * representable and decision boundaries parity-safe. */
  def dir(node: Int): Seq[Double] = VectorSearch.qvec(40 + node)

  private def nodesAt(level: Int): Seq[Int] =
    (1 << level) until (1 << (level + 1))

  private def caseOver(node: Column, nodes: Seq[Int])(f: Int => Column): Column =
    nodes.tail.foldLeft(when(node === nodes.head, f(nodes.head))) {
      (acc, n) => acc.when(node === n, f(n))
    }

  // ------------------------------------------------------------ train

  private val trees =
    new graft.sources.CorpusMemo[Map[Int, Double]]("embeddings", growOnly = false)

  /** Per-corpus trained thresholds (internal node → split value), one
    * entry per corpus dir: one JVM touching two corpora must not mix
    * their trees. Rebuild-on-change: median thresholds move with the
    * data, so any corpus change (an append included) retrains.
    * Deterministic: thresholds derive from exact order statistics, so
    * retraining on the same corpus reproduces the same doubles in any
    * JVM. */
  def treeFor(s: SparkSession, d: String): Map[Int, Double] =
    trees(d)(train(Tables.embeddings(s, d)))

  /** Trains each node's threshold as the MIDPOINT of the two order
    * statistics straddling the median split (k-th and (k+1)-th
    * smallest projections, k = n/2) — NOT the median itself. A raw
    * median IS some corpus vector's exact projection, so that vector
    * sits exactly on the decision boundary and a 1-ulp difference in
    * another engine's inner-product summation order flips its leaf
    * (observed: DuckDB's `list_inner_product` vs our sequential dot
    * disagreed on boundary vectors at sf0.01). The midpoint sits
    * strictly between two population values, giving every vector a
    * gap/2 margin — ulp noise (~1e-16 relative) cannot reassign
    * anything. Same split sizes as the median rule.
    *
    * Duplicate projections spanning the split (near-dup embeddings —
    * d5's corpus really has them) cannot be separated by ANY
    * threshold, so the whole run goes right: threshold = midpoint of
    * the run value and the next DISTINCT value below (resolved in one
    * extra aggregate pass over only the affected nodes); if nothing
    * below, left instead; if the node is a single point or fully
    * degenerate, a relative offset keeps the lone value strictly off
    * the boundary.
    *
    * Cost: one rank window (shuffle by node + in-node sort) + one
    * bounded-collect aggregate per level; the root level sorts the
    * corpus in one task, which is fine at index-build time here but
    * at 100 TB swaps for `approx_percentile` bracketing with the same
    * midpoint nudge — the plan shape and the parity argument are
    * unchanged. */
  def train(embs: DataFrame): Map[Int, Double] = {
    vectors.register(embs.sparkSession)
    var thr = Map.empty[Int, Double]
    var df = embs.select(col("embedding").as("e")).withColumn("node", lit(1))
    for (level <- 0 until Depth) {
      val nodes = nodesAt(level)
      val proj = caseOver(col("node"), nodes)(n =>
        vectors.dotProduct(col("e"), typedlit(dir(n))))
      val withProj = df.withColumn("proj", proj)
      val wOrd = Window.partitionBy(col("node")).orderBy(col("proj"))
      val wAll = Window.partitionBy(col("node"))
      // ≤ 2^level rows: a bounded collect, the a3-codebook contract
      val stats = withProj
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("k", floor(count(lit(1)).over(wAll) / 2))
        .groupBy("node").agg(
          max(when(col("rn") === col("k"), col("proj"))).as("a"),
          max(when(col("rn") === col("k") + 1, col("proj"))).as("b"))
        .collect()
      def offBoundary(b: Double): Double = b - math.max(1e-6, math.abs(b) * 1e-6)
      val dup = scala.collection.mutable.Map[Int, Double]() // node -> run value
      stats.foreach { r =>
        val node = r.getInt(0)
        val b = r.getDouble(2) // (k+1)-th smallest: k+1 ≤ n, always present
        if (r.isNullAt(1)) thr += node -> offBoundary(b) // n == 1
        else {
          val a = r.getDouble(1)
          val mid = (a + b) / 2
          // mid == a/b only when a, b are adjacent doubles — then the
          // midpoint is itself a population value, same hazard as a == b
          if (a < b && mid != a && mid != b) thr += node -> mid
          else dup += node -> b
        }
      }
      if (dup.nonEmpty) {
        val dn = dup.keys.toSeq.sorted
        val bLit = caseOver(col("node"), dn)(n => lit(dup(n)))
        withProj.filter(col("node").isin(dn.map(Int.box): _*))
          .groupBy("node").agg(
            max(when(col("proj") < bLit, col("proj"))).as("lo"),
            min(when(col("proj") > bLit, col("proj"))).as("hi"))
          .collect().foreach { r =>
            val node = r.getInt(0)
            val b = dup(node)
            // the dup-path midpoints need the SAME adjacent-doubles
            // guard as the first pass: (lo+b)/2 rounding back onto lo
            // or b would re-create the exact boundary hazard this
            // training rule exists to eliminate — when no
            // representable double lies strictly between, fall to the
            // relative-offset fallback (population values that dense
            // cannot be split by any threshold anyway)
            def midOr(x: Double, y: Double): Double = {
              val m = (x + y) / 2
              if (m != x && m != y) m else offBoundary(math.min(x, y))
            }
            thr +=
              (if (!r.isNullAt(1)) node -> midOr(r.getDouble(1), b)
              else if (!r.isNullAt(2)) node -> midOr(b, r.getDouble(2))
              else node -> offBoundary(b)) // all projections equal
          }
      }
      val tcol = caseOver(col("node"), nodes)(n => lit(thr.getOrElse(n, 0.0)))
      df = df.withColumn("node",
        col("node") * 2 + when(proj >= tcol, 1).otherwise(0))
    }
    thr
  }

  // ----------------------------------------------------- assignment

  /** Staged leaf assignment — `Depth` narrow projections over the
    * scan, all inside whole-stage codegen (each level's CASE
    * evaluates exactly one dot product per row). */
  def assignLeaf(embs: DataFrame, thr: Map[Int, Double]): DataFrame = {
    var df = embs.withColumn("leaf", lit(1))
    for (level <- 0 until Depth) {
      val nodes = nodesAt(level)
      val proj = caseOver(col("leaf"), nodes)(n =>
        vectors.dotProduct(col("embedding"), typedlit(dir(n))))
      val tcol = caseOver(col("leaf"), nodes)(n => lit(thr.getOrElse(n, 0.0)))
      df = df.withColumn("leaf",
        col("leaf") * 2 + when(proj >= tcol, 1).otherwise(0))
    }
    df
  }

  /** Driver-side descent (same arithmetic order as the column form). */
  def leafOf(thr: Map[Int, Double], v: Seq[Double], flipLevel: Int = -1): Int = {
    var node = 1
    for (level <- 0 until Depth) {
      val p = dir(node).zip(v).map { case (a, b) => a * b }.sum
      var bit = if (p >= thr.getOrElse(node, 0.0)) 1 else 0
      if (level == flipLevel) bit = 1 - bit
      node = node * 2 + bit
    }
    node
  }

  /** Probe set: own leaf + the [[MaxFlips]] single-decision spills
    * with the smallest |proj − thr| margin along the query's OWN path
    * (margins are path-local, so they are computed on the unflipped
    * descent; ties break on level). Distinct leaves only. */
  def probeLeaves(thr: Map[Int, Double], v: Seq[Double],
      maxFlips: Int = MaxFlips): Seq[Int] = {
    var node = 1
    val margins = (0 until Depth).map { level =>
      val p = dir(node).zip(v).map { case (a, b) => a * b }.sum
      val t = thr.getOrElse(node, 0.0)
      val m = math.abs(p - t)
      node = node * 2 + (if (p >= t) 1 else 0)
      (m, level)
    }
    val flips = margins.sorted.take(maxFlips).map(_._2)
    (leafOf(thr, v) +: flips.map(l => leafOf(thr, v, flipLevel = l))).distinct
  }

  // ---------------------------------------------------------- search

  /** The probe literal for [[Ann.probeRows]]: probed leaf →
    * (query_id, qv) of every query probing it. */
  private def leafProbes(thr: Map[Int, Double], maxFlips: Int,
      queryVecs: Seq[(Int, Seq[Double])]): Map[Int, Seq[(Int, Seq[Double])]] =
    queryVecs.flatMap { case (i, v) =>
      probeLeaves(thr, v, maxFlips).map(pl => pl -> (i, v))
    }.groupMap(_._1)(_._2)

  /** a4: scan-side RP-tree search — assign leaves on the fly (pure
    * map), expand each row by the probe literal of its leaf, exact
    * cosine inside probed leaves, per-query top-k via
    * [[Ann.cosineTopK]]. */
  def a4Query(s: SparkSession, d: String, k: Int = K,
      maxFlips: Int = MaxFlips): DataFrame = {
    vectors.register(s)
    val thr = treeFor(s, d)
    Ann.cosineTopK(
      Ann.probeRows(assignLeaf(Tables.embeddings(s, d), thr), col("leaf"),
        "qv", leafProbes(thr, maxFlips, Ann.querySet)),
      k, Ann.querySet.size)
  }

  // ----------------------------------------------------------- index

  def indexPath(d: String): String =
    graft.sources.LocalIndex.path("rptree-index", d, "_d" + Depth + "m")

  /** Build/refresh the leaf-partitioned index. Full rebuild on ANY
    * corpus change (see scaladoc: median thresholds move with the
    * data, so shard append is unsound here — Annoy's static-index
    * contract). The layout's `extra` carries the TRAINED THRESHOLDS
    * (a3's ensure carries its codebook the same way): a training-rule
    * change that moves thresholds without touching corpus bytes must
    * rebuild too — otherwise queries would descend the NEW tree while
    * the persisted assignment still encodes the OLD one, silently
    * mismatching probes and leaves. */
  def ensureIndex(s: SparkSession, d: String): String = {
    val thr = treeFor(s, d)
    graft.sources.LocalIndex.ensure("rptree-index", d, "_d" + Depth + "m",
      Seq(s"$d/embeddings.parquet"),
      "thr:" + thr.toSeq.sorted.map { case (n, t) => s"$n=$t" }
        .mkString(",")) { path =>
      assignLeaf(Tables.embeddings(s, d), thr)
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("leaf").parquet(path)
    }
  }

  /** a4_indexed: same result contract served from the persisted
    * layout — the probe-leaf set is a driver constant, so the `isin`
    * lands in PartitionFilters and only probed leaf dirs are read. */
  def indexedQuery(s: SparkSession, d: String, k: Int = K,
      maxFlips: Int = MaxFlips,
      queryVecs: Seq[(Int, Seq[Double])] = Ann.querySet): DataFrame = {
    vectors.register(s)
    val thr = treeFor(s, d)
    Ann.cosineTopK(
      Ann.probeIndex(Tables.loadLayout(s, ensureIndex(s, d)), "leaf", "qv",
        leafProbes(thr, maxFlips, queryVecs)),
      k, queryVecs.size)
  }

  // ---------------------------------------------------------- oracle

  /** DuckDB replay: staged CTE per level mirrors [[assignLeaf]]'s
    * staged columns; trained thresholds embed as shortest-round-trip
    * double literals (a3's discipline — `def`, per-dir, dumped AFTER
    * the queries ran, so the cache is populated). Fallback with no
    * cached tree: the zero-threshold tree; formal only — a dir whose
    * a4 queries never ran has no result to compare. */
  def oracles(d: String): Map[String, String] = {
    val thr = trees.peek(d).getOrElse(Map.empty[Int, Double])
    def t(n: Int): String = thr.getOrElse(n, 0.0).toString
    val stages = (0 until Depth).map { level =>
      val cases = nodesAt(level).map { n =>
        s"WHEN $n THEN (CASE WHEN list_inner_product(e, ${
          VectorSearch.sqlArray(dir(n))}::DOUBLE[]) >= ${t(n)} THEN 1 ELSE 0 END)"
      }.mkString(" ")
      s"a${level + 1} AS (SELECT vec_id, e, node * 2 + (CASE node $cases END) AS node FROM a$level)"
    }
    val probes = Ann.querySet.flatMap { case (i, v) =>
      probeLeaves(thr, v).map(pl =>
        s"($i, $pl, ${VectorSearch.sqlArray(v)}::DOUBLE[])")
    }.mkString(", ")
    val sql =
      s"""WITH a0 AS (SELECT vec_id, embedding::DOUBLE[] AS e, 1 AS node FROM embeddings),
         |${stages.mkString(",\n")},
         |probes(query_id, pleaf, qv) AS (VALUES $probes)
         |SELECT query_id, vec_id,
         |       1.0 - list_cosine_similarity(e, qv) AS score
         |FROM a$Depth JOIN probes ON node = pleaf
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) <= $K
         |ORDER BY query_id, score, vec_id""".stripMargin
    Map("a4_rptree" -> sql, "a4_indexed" -> sql)
  }
}
