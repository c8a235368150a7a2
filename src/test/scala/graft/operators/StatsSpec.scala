package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The q52–q56 statistics family: each pinned formula is re-derived
  * brute-force on the driver from the same tiny corpus, so a formula
  * drift (bias convention, wrong marginal, off-by-one frame) fails
  * here before the cross-engine gate ever runs. */
class StatsSpec extends SparkSpec {
  private val d = SparkSpec.TinySf

  test("q52 entropy matches the driver-side Shannon formula per type") {
    val got = Stats.q52Entropy(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val counts = graft.Tables.events(spark, d)
      .groupBy(col("event_type"), col("user_id")).count()
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    counts.foreach { case (t, cs) =>
      val n = cs.sum.toDouble
      val h = cs.map { c => val p = c / n; -p * math.log(p) / math.log(2) }.sum
      got(t)._1 shouldBe cs.sum
      got(t)._2 shouldBe (h +- 1e-3)
    }
  }

  test("q53 welch t-test matches a driver-side two-sample computation") {
    val r = Stats.q53WelchTTest(spark, d).collect().head
    val vals = graft.Tables.events(spark, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), x.getDouble(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def mv(xs: Array[Double]): (Int, Double, Double) = {
      val n = xs.length; val mu = xs.sum / n
      (n, mu, xs.map(x => (x - mu) * (x - mu)).sum / (n - 1))
    }
    val (na, mua, s2a) = mv(vals("click")); val (nb, mub, s2b) = mv(vals("view"))
    val se = s2a / na + s2b / nb
    val t = (mua - mub) / math.sqrt(se)
    val df = se * se / (math.pow(s2a / na, 2) / (na - 1) + math.pow(s2b / nb, 2) / (nb - 1))
    r.getLong(0) shouldBe na.toLong
    r.getLong(1) shouldBe nb.toLong
    r.getDouble(4) shouldBe (t +- 1e-3)
    r.getDouble(5) shouldBe (df +- 1e-3)
  }

  test("q54 cramers v matches a driver-side chi-square incl. empty cells") {
    val r = Stats.q54CramersV(spark, d).collect().head
    val obs = graft.Tables.documents(spark, d)
      .groupBy(col("lang"), col("source")).count().collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    val langs = obs.keys.map(_._1).toSeq.distinct
    val srcs = obs.keys.map(_._2).toSeq.distinct
    val n = obs.values.sum.toDouble
    val rt = obs.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ct = obs.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val chi2 = (for { l <- langs; sr <- srcs } yield {
      val e = rt(l) * ct(sr) / n
      val o = obs.getOrElse((l, sr), 0L).toDouble
      (o - e) * (o - e) / e
    }).sum
    val v = math.sqrt(chi2 / n / math.min(langs.size - 1, srcs.size - 1))
    r.getLong(0) shouldBe obs.values.sum
    r.getDouble(3) shouldBe (chi2 +- 1e-3)
    r.getDouble(4) shouldBe (v +- 1e-3)
    r.getDouble(4) should (be >= 0.0 and be <= 1.0)
  }

  test("q55 corr matrix matches per-pair Pearson and stays in [-1, 1]") {
    val rows = Stats.q55CorrMatrix(spark, d).collect()
    rows.length shouldBe 6
    rows.foreach { r =>
      val (a, b, v) = (r.getString(0), r.getString(1), r.getDouble(2))
      v should (be >= -1.0 and be <= 1.0)
      val direct = graft.Tables.lineitem(spark, d)
        .agg(corr(col(a), col(b))).collect().head.getDouble(0)
      v shouldBe (direct +- 1e-3)
    }
  }

  // doubled average rank of each value in xs (2·below + eq + 1)
  private def rank2(xs: Seq[Long]): Map[Long, Long] =
    xs.distinct.map { v =>
      v -> (2L * xs.count(_ < v) + xs.count(_ == v) + 1L)
    }.toMap

  test("q57 rank corr matches driver-side Spearman with average tied ranks") {
    val got = Stats.q57RankCorr(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val rows = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        expr("CAST(round(l_discount * 100) AS BIGINT)")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      val (qs, ds) = (rs.map(_._2).toSeq, rs.map(_._3).toSeq)
      val (rq, rd) = (rank2(qs), rank2(ds))
      val n = rs.length
      val xs = qs.map(rq(_) - (n + 1.0)); val ys = ds.map(rd(_) - (n + 1.0))
      val rho = xs.lazyZip(ys).map(_ * _).sum /
        math.sqrt(xs.map(x => x * x).sum * ys.map(y => y * y).sum)
      got(flag)._1 shouldBe n.toLong
      got(flag)._2 shouldBe (rho +- 1e-3)
    }
  }

  private def clickViewCentsDriver(): (Seq[Long], Seq[Long]) = {
    val rows = graft.Tables.events(spark, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (rows.filter(_._1 == "click").map(_._2).toSeq,
      rows.filter(_._1 == "view").map(_._2).toSeq)
  }

  test("q58 mann-whitney U matches the O(n²) pair count with half ties") {
    val r = Stats.q58MannWhitney(spark, d).collect().head
    val (a, b) = clickViewCentsDriver()
    // U_click = #(a > b) + ½·#(a == b), the definition the rank-sum
    // formula is meant to reproduce
    val u = a.iterator.map { x =>
      b.count(x > _) + 0.5 * b.count(x == _)
    }.sum
    r.getLong(0) shouldBe a.length.toLong
    r.getLong(1) shouldBe b.length.toLong
    r.getDouble(2) shouldBe (u +- 1e-6)
    r.getDouble(3) shouldBe (a.length.toDouble * b.length - u +- 1e-6)
  }

  test("q62 KS D matches the driver-side ECDF sweep, earliest argmax") {
    val r = Stats.q62KsTest(spark, d).collect().head
    val (a, b) = clickViewCentsDriver()
    val points = (a ++ b).distinct.sorted
    val ds = points.map { v =>
      (v, math.abs(a.count(_ <= v).toDouble / a.length -
        b.count(_ <= v).toDouble / b.length))
    }
    val dMax = ds.map(_._2).max
    r.getDouble(2) shouldBe (dMax +- 1e-6)
    // argmax ties break to the earliest value; exact-integer compare on
    // the driver too (cross-multiplied), matching the operator
    val na = a.length.toLong; val nb = b.length.toLong
    val exact = points.map { v =>
      (v, (a.count(_ <= v).toLong * nb - b.count(_ <= v).toLong * na).abs)
    }
    val best = exact.maxBy(_._2)._2
    r.getLong(3) shouldBe exact.filter(_._2 == best).map(_._1).min
  }

  test("q63 weighted quantiles match the driver-side smallest-reaching rule") {
    val got = Stats.q63WeightedQuantile(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        col("l_quantity").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      val byV = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tot = byV.map(_._2).sum
      def pick(num: Long, den: Long): Long = {
        var cum = 0L
        byV.find { case (_, w) => cum += w; cum * den >= tot * num }.get._1
      }
      val (gTot, p25, p50, p75, p90) = got(flag)
      gTot shouldBe tot
      (p25, p50, p75, p90) shouldBe
        ((pick(1, 4), pick(1, 2), pick(3, 4), pick(9, 10)))
      p25 should be <= p50; p50 should be <= p75; p75 should be <= p90
    }
  }

  test("q64 theils U matches driver-side conditional entropy, in [0, 1]") {
    val r = Stats.q64TheilsU(spark, d).collect().head
    val obs = graft.Tables.documents(spark, d)
      .groupBy(col("lang"), col("source")).count().collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2)))
    val n = obs.map(_._2).sum.toDouble
    def h(groups: Iterable[Long]): Double =
      -groups.map { c => val p = c / n; p * math.log(p) / math.log(2) }.sum
    val hLang = h(obs.groupBy(_._1._1).values.map(_.map(_._2).sum))
    val hSrc = h(obs.groupBy(_._1._2).values.map(_.map(_._2).sum))
    // H(lang|source) = Σ_s p(s) H(lang | s), the definition
    val hLangGivenSrc = obs.groupBy(_._1._2).values.map { cells =>
      val ns = cells.map(_._2).sum.toDouble
      (ns / n) * -cells.map { case (_, c) =>
        val p = c / ns; p * math.log(p) / math.log(2) }.sum
    }.sum
    r.getLong(0) shouldBe n.toLong
    r.getDouble(3) shouldBe (hLang +- 1e-3)
    r.getDouble(4) shouldBe ((hLang - hLangGivenSrc) / hLang +- 1e-3)
    r.getDouble(4) should (be >= 0.0 and be <= 1.0)
    r.getDouble(5) should (be >= 0.0 and be <= 1.0)
    // the mutual information in both directions is the SAME quantity,
    // so U(a|b)·H(a) == U(b|a)·H(b)
    val hSrcGot = r.getDouble(5)
    (r.getDouble(4) * hLang) shouldBe (hSrcGot * hSrc +- 1e-2)
  }

  test("bucketedCumsum sweeps exactly, carries totals, keeps null keys") {
    import spark.implicits._
    // exact per-key running sums across a bucket boundary (width 1024:
    // cents 10 and 2000 land in different buckets), totals on the row
    val ok = Seq(("a", 10L, 1L), ("a", 2000L, 2L), ("b", 10L, 5L))
      .toDF("k", "cents", "c")
    val swept = Stats.bucketedCumsum(ok, Seq("k"), "cents",
      Seq(("c", "cum")), 1024, inclusive = true)
    swept.orderBy(col("k"), col("cents"))
      .select(col("k"), col("cum"), col("cum_total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
      Array(("a", 1L, 3L), ("a", 3L, 3L), ("b", 5L, 5L))
    // a NULL key value is its own group on both sides of the offset
    // join (null-safe equality) — swept, not silently dropped
    val nul = Seq((Option.empty[String], 10L, 1L),
      (Option.empty[String], 2000L, 2L), (Some("a"), 20L, 2L))
      .toDF("k", "cents", "c")
    val sweptNul = Stats.bucketedCumsum(nul, Seq("k"), "cents",
      Seq(("c", "cum")), 1024, inclusive = true)
    sweptNul.orderBy(col("k"), col("cents"))
      .select(col("cents"), col("cum"), col("cum_total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe
      Array((10L, 1L, 3L), (2000L, 3L, 3L), (20L, 2L, 2L))
    // exclusive form: strict prefix
    val excl = Stats.bucketedCumsum(ok, Seq("k"), "cents",
      Seq(("c", "cum")), 1024, inclusive = false)
    excl.orderBy(col("k"), col("cents")).select(col("k"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a", 0L), ("a", 1L), ("b", 0L))
  }

  test("q56 moving agg equals a driver-side trailing-7 fold") {
    val got = Stats.q56MovingAgg(spark, d).collect()
    val daily = got.map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    got.zipWithIndex.foreach { case (r, i) =>
      val (t, day) = (r.getString(0), r.getDate(1).toString)
      // trailing ROWS frame: last ≤7 day-rows of THIS type up to current
      val win = daily.filter(x => x._1 == t && x._2 <= day).sortBy(_._2).takeRight(7)
      val expSum = win.map(_._3).sum
      r.getLong(3) shouldBe expSum
      r.getLong(5) shouldBe win.length.toLong
      r.getDouble(4) shouldBe (expSum.toDouble / win.length +- 1e-3)
    }
  }

  test("q57 and q58 follow an in-place rewrite of their corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-").toString
    // the corpus is regenerated by a writer outside this session
    // (Spark's own overwrite would refresh the session's caches by
    // path): stage the table, then swap its directory into place
    def swapIn(name: String, table: org.apache.spark.sql.DataFrame): Unit = {
      val staged = java.nio.file.Paths.get(s"$dir/staged-$name")
      table.write.parquet(staged.toString)
      val live = java.nio.file.Paths.get(s"$dir/$name.parquet")
      if (java.nio.file.Files.exists(live))
        java.nio.file.Files.walk(live).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.move(staged, live)
    }
    // (return flag, quantity, discount) rows and (type, value) events
    def write(items: Seq[(String, Double, Double)], events: Seq[(String, Double)]): Unit = {
      swapIn("lineitem", items.toDF("l_returnflag", "l_quantity", "l_discount"))
      swapIn("events", events.toDF("event_type", "value")
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
    }
    def served(): (Map[String, Long], (Long, Long)) = {
      val q57 = Stats.q57RankCorr(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val q58 = Stats.q58MannWhitney(spark, dir).collect().head
      (q57, (q58.getLong(0), q58.getLong(1)))
    }
    // every flag holds two distinct quantities and discounts, so each
    // rank correlation is defined
    write(Seq(("A", 1.0, 0.01), ("A", 2.0, 0.02), ("R", 3.0, 0.03), ("R", 1.0, 0.05)),
      Seq("click" -> 1.0, "view" -> 2.0, "view" -> 3.0))
    served() shouldBe ((Map("A" -> 2L, "R" -> 2L), (1L, 2L)))
    // same dir, new rows: each statistic aggregates the corpus as it
    // is now, not an aggregate materialized by an earlier call
    write(Seq(("A", 1.0, 0.01), ("A", 2.0, 0.02), ("A", 4.0, 0.06),
        ("N", 2.0, 0.05), ("N", 4.0, 0.02), ("R", 3.0, 0.03), ("R", 1.0, 0.05)),
      Seq("click" -> 1.0, "click" -> 4.0, "click" -> 2.5, "view" -> 2.0))
    served() shouldBe ((Map("A" -> 3L, "N" -> 2L, "R" -> 2L), (3L, 1L)))
  }
}
