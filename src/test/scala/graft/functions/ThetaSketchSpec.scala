package graft.functions

import graft.SparkSpec

/** KMV theta-sketch tier: the bounded-state arguments q65 rests on,
  * exercised directly on the buffer class and through SQL. */
class ThetaSketchSpec extends SparkSpec {

  private def sketchOf(cap: Int, xs: Seq[Long]): Seq[Long] = {
    val s = new KmvSketch(cap)
    xs.foreach(s.add)
    import scala.jdk.CollectionConverters._
    s.keys.asScala.toSeq.map(_.longValue())
  }

  test("below capacity the sketch IS the distinct set, sorted") {
    sketchOf(10, Seq(5L, 3L, 5L, 9L, 3L)) shouldBe Seq(3L, 5L, 9L)
  }

  test("at capacity the sketch is exactly the k smallest distinct values") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(5000)(rnd.nextLong().abs % (1L << 60))
    sketchOf(64, xs) shouldBe xs.distinct.sorted.take(64)
  }

  test("merge is order-invariant: any partition split yields one sketch") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(3000)(rnd.nextLong().abs % (1L << 60))
    val whole = sketchOf(32, xs)
    Seq(2, 3, 7, 50).foreach { parts =>
      val chunks = xs.grouped(math.max(1, xs.size / parts)).toSeq
      // merge left-to-right and right-to-left
      def mergeAll(cs: Seq[Seq[Long]]): Seq[Long] = {
        val acc = new KmvSketch(32)
        cs.foreach { c =>
          val s = new KmvSketch(32); c.foreach(s.add); acc.merge(s)
        }
        import scala.jdk.CollectionConverters._
        acc.keys.asScala.toSeq.map(_.longValue())
      }
      mergeAll(chunks) shouldBe whole
      mergeAll(chunks.reverse) shouldBe whole
    }
  }

  test("KMV estimator lands within 3 sigma above capacity") {
    val k = 256
    val n = 50000
    val rnd = new scala.util.Random(13)
    // uniform 60-bit hashes, as hash60 produces
    val xs = Seq.fill(n)(rnd.nextLong().abs % (1L << 60))
    val trueN = xs.distinct.size.toDouble
    val sk = sketchOf(k, xs)
    sk.size shouldBe k
    val uK = sk.last.toDouble / math.pow(2, 60)
    val est = (k - 1).toDouble / uK
    // KMV relative sd ~ 1/sqrt(k-2) ≈ 6.3%; 3 sigma band
    math.abs(est - trueN) / trueN should be < 3.0 / math.sqrt(k - 2.0)
  }

  test("SQL surface: exact regime through groupBy, estimate column form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 3, (i % 100).toLong)).toDF("g", "h")
    val got = df.groupBy(col("g"))
      .agg(thetasketch.thetaSketch(col("h"), 4096).as("sk"))
      .select(col("g"),
        org.apache.spark.sql.functions.size(col("sk")).as("n"),
        thetasketch.estimate(col("sk"), 4096).as("est"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // 100 distinct h values appear in every residue class g
    got.values.foreach { case (n, est) =>
      n shouldBe 100
      est shouldBe 100.0
    }
  }

  test("analysis contract: non-integral keys and bad k fail loudly") {
    import org.apache.spark.sql.AnalysisException
    def bad(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      var c: Throwable = e
      while (c.getCause != null && !c.isInstanceOf[AnalysisException])
        c = c.getCause
      c shouldBe a[AnalysisException]
    }
    bad("SELECT theta_sketch('abc', 16)")
    bad("SELECT theta_sketch(CAST(1.5 AS DOUBLE), 16)")
    bad("SELECT theta_sketch(1L, 1)") // k < 2
    bad("SELECT theta_sketch(1L, CAST(NULL AS INT))")
  }
}
