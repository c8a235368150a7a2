package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.col

import graft.functions.vectors
import graft.operators.{Ann, InvertedIndex, RpTree, VectorSearch}

/** Per-request Spark job budget of the interactive serve paths.
  * A request's latency on a warm corpus is mostly job launches, so
  * the budgets are pinned here, counted by a `SparkListener` over the
  * builder call and its collect together. */
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

  test("a warm single-query ANN request starts at most 2 jobs") {
    // one job computes the broadcast candidate (or answer) set, one
    // collects: probe tables and query vectors ride the plan as
    // literals, and a one-query cut needs no exchange
    Seq[(String, Int => DataFrame)](
      "quantizedIvfKnn" -> (q => Ann.quantizedIvfKnn(spark, d, queryVecs = one(q))),
      "ivfPqKnn" -> (q => Ann.ivfPqKnn(spark, d, queryVecs = one(q))),
      "indexedLshKnn" -> (q => Ann.indexedLshKnn(spark, d, queryVecs = one(q))),
      "RpTree.indexedQuery" -> (q => RpTree.indexedQuery(spark, d, queryVecs = one(q)))
    ).foreach { case (surface, request) =>
      val jobs = warmJobs(request)
      info(s"$surface: ${jobs.size} jobs")
      withClue(s"$surface:\n" + jobs.mkString("\n---\n")) {
        jobs.size should be <= 2
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

  test("a fresh BM25 needle on a warm corpus starts at most 4 jobs and never rescans documents") {
    def request(needle: Seq[String]): Unit =
      InvertedIndex.bm25Indexed(spark, d, needle)
        .orderBy(col("bm25").desc, col("doc_id")).limit(Ann.K)
        .collect(): Unit
    request(InvertedIndex.Needle) // first request: index and corpus constants
    // needles no other spec draws, so the per-needle stats miss
    val tag = java.util.UUID.randomUUID.toString.filter(_.isLetter)
    Seq(Seq("table", "zz" + tag), Seq("stream", "value", "zy" + tag)).foreach { n =>
      val jobs = jobsOf(request(n))
      withClue(s"$n:\n" + jobs.mkString("\n---\n")) {
        jobs.size should be <= 4
        jobs.filter(_.contains("documents.parquet")) shouldBe empty
      }
    }
  }
}
