package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, expr, typedlit}

import graft.functions.vectors
import graft.operators.{Ann, InvertedIndex, RpTree, VectorSearch}

/** Per-request Spark job budget of the interactive serve paths.
  * A request's latency on a warm corpus is mostly job launches and
  * driver work, so the budgets are pinned here: jobs counted by a
  * `SparkListener` over the builder call and its collect together, and
  * files listed counted by Spark's file-discovery metric. */
class ServePathJobsSpec extends SparkSpec {

  private val d = SparkSpec.TinySf

  /** One entry per job started while `f` runs: the plan text of the
    * SQL execution that launched it ("" for a job outside any). */
  private def jobsOf(f: => Unit): Seq[String] = {
    val plans = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[Option[Long]]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.merge(s.executionId, s.physicalPlanDescription, _ + _)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.merge(u.executionId, u.physicalPlanDescription, _ + _)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { f; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq.map(_.flatMap(id => Option(plans.get(id))).getOrElse(""))
  }

  /** Jobs of a warm request: collecting `request(40)` builds whatever
    * the surface needs, then the jobs of `request(41)` count. */
  private def warmJobs(request: Int => DataFrame): Seq[String] = {
    vectors.register(spark)
    request(40).collect()
    jobsOf(request(41).collect(): Unit)
  }

  private def one(seed: Int) = Seq((0, VectorSearch.qvec(seed)))

  /** The four single-query ANN serve surfaces with their warm job
    * budgets: the int8 and PQ refines collect their candidates in a
    * first job; the LSH and RP-tree probes are one job. */
  private val annSurfaces = Seq[(String, Int, Int => DataFrame)](
    ("quantizedIvfKnn", 2, q => Ann.quantizedIvfKnn(spark, d, queryVecs = one(q))),
    ("ivfPqKnn", 2, q => Ann.ivfPqKnn(spark, d, queryVecs = one(q))),
    ("indexedLshKnn", 1, q => Ann.indexedLshKnn(spark, d, queryVecs = one(q))),
    ("RpTree.indexedQuery", 1, q => RpTree.indexedQuery(spark, d, queryVecs = one(q))))

  private def bm25(needle: Seq[String]): DataFrame =
    InvertedIndex.bm25Indexed(spark, d, needle)
      .orderBy(col("bm25").desc, col("doc_id")).limit(Ann.K)

  /** The harness's filtered-L2 `exact` request. */
  private def exactRequest(labels: Seq[Int], seed: Int): Unit = {
    val combined = Tables.loadLayout(spark, VectorSearch.ensureCombined(spark, d))
    combined.filter(expr(s"label IN (${labels.mkString(", ")})"))
      .withColumn("score", vectors.l2Distance(
        col("image_embedding").cast("array<double>"), typedlit(VectorSearch.qvec(seed))))
      .select(col("doc_id").cast("long").as("doc_id"), col("caption"),
        col("lang"), col("source"), col("label").cast("long").as("label"), col("score"))
      .orderBy(col("score"), col("doc_id"))
      .limit(Ann.K)
      .collect(): Unit
  }

  test("a warm single-query ANN request starts at most 2 jobs") {
    // probe tables and query vectors ride the plan as literals, a
    // one-query cut needs no exchange, and no layout is listed again
    annSurfaces.foreach { case (surface, budget, request) =>
      val jobs = warmJobs(request)
      info(s"$surface: ${jobs.size} jobs")
      withClue(s"$surface:\n" + jobs.mkString("\n---\n")) {
        jobs.size should be <= budget
        // one query probes with a pruned scan and literal columns
        if (surface != "ivfPqKnn") {
          jobs.head should include("Scan parquet")
          jobs.head should not include "Generate"
        }
      }
    }
  }

  test("a warm ann, text or exact request lists no file") {
    // every layout a warm request reads is served from its catalog
    // entry: no InMemoryFileIndex is built, so nothing is listed
    vectors.register(spark)
    val requests = annSurfaces.map { case (n, _, r) => n -> ((q: Int) => r(q).collect(): Unit) } ++
      Seq[(String, Int => Unit)](
        "bm25Indexed" -> (_ => bm25(InvertedIndex.Needle).collect(): Unit),
        "exact" -> (q => exactRequest(Seq(1, 2, 3), q)))
    requests.foreach { case (surface, request) =>
      request(40)
      val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      request(41)
      withClue(surface) {
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before shouldBe 0
      }
    }
  }

  test("a warm 5-query int8-IVF request starts at most 4 jobs") {
    // no broadcast job for the probe or query table; the per-query
    // window exchanges of the rank and refine cuts remain
    val jobs = warmJobs(q => Ann.quantizedIvfKnn(spark, d,
      queryVecs = (0 until 5).map(i => (i, VectorSearch.qvec(q * 10 + i)))))
    info(s"${jobs.size} jobs")
    withClue(jobs.mkString("\n---\n")) { jobs.size should be <= 4 }
  }

  test("a fresh BM25 needle: one job, none in the builder") {
    // the corpus' term statistics are built by the first request, so a
    // needle never served before derives its idf on the driver; its
    // pruned postings fit one split, so scoring is one job
    bm25(InvertedIndex.Needle).collect() // first request: index and statistics
    val tag = java.util.UUID.randomUUID.toString.filter(_.isLetter)
    Seq(Seq("table", "zz" + tag), Seq("stream", "value", "zy" + tag)).foreach { n =>
      var ranked: DataFrame = null
      val buildJobs = jobsOf { ranked = bm25(n) }
      val jobs = buildJobs ++ jobsOf(ranked.collect(): Unit)
      withClue(s"$n:\n" + jobs.mkString("\n---\n")) {
        buildJobs shouldBe empty
        jobs.size should be <= 1
        jobs.filter(_.contains("documents.parquet")) shouldBe empty
      }
    }
  }

  test("a filtered exact request compiles no class for a new label set") {
    // the harness's filtered-L2 shape: `label IN (...)` plans as InSet
    // over a referenced set, so every label set shares one generated
    // class (inlined values compile new classes per distinct set)
    // a corpus label plus values no other spec builds, so rows flow and
    // no earlier compile of the same set is reused
    val base = 1000000 + scala.util.Random.nextInt(1000000) * 8
    exactRequest(Seq(1, base, base + 1), 50)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    exactRequest(Seq(3, base + 3, base + 5), 51)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount shouldBe compiles
  }
}
