package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one JVM-wide instance —
  * Spark session startup dominates test time otherwise).
  *
  * Every plan a test executes passes [[graft.plans.GeneratorLint]]: a
  * test that succeeds while any of its plans re-evaluates a generator's
  * input fails here, with the finding as its message. */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session

  override protected def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    val found = SparkSpec.lintFindings()
    if (outcome == Succeeded && found.nonEmpty)
      Failed(s"GeneratorLint: ${found.mkString("\n")}")
    else outcome
  }
}

object SparkSpec {
  @volatile private var started = false

  lazy val session: SparkSession = {
    // a static conf, read by every session of the context: sessions
    // from newSession() (s10's) and the clones that foreachBatch
    // bodies run in load the lint listener too
    sys.props("spark.sql.queryExecutionListeners") =
      classOf[GeneratorLintListener].getName
    val s = GraftSession.local("4")
    started = true
    s
  }

  /** sf0.001 driver testdata (read-only input for integration specs). */
  val TinySf = "/root/testdata/sf0.001"

  private val found = new ConcurrentLinkedQueue[String]()

  /** Lint findings recorded since the last call, once every listener
    * event posted so far has been delivered. */
  def lintFindings(): Seq[String] =
    if (!started) Nil
    else {
      ListenerBusDrain(session.sparkContext)
      Iterator.continually(found.poll()).takeWhile(_ != null).toSeq
    }

  private[graft] def record(f: String): Unit = { found.add(f); () }
}

/** Runs [[graft.plans.GeneratorLint]] on each executed plan. The
  * listener bus swallows listener exceptions, so it only records; the
  * test fixture fails on what it recorded. */
class GeneratorLintListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    try graft.plans.GeneratorLint.findings(qe.executedPlan)
      .foreach(f => SparkSpec.record(s"$funcName: $f"))
    catch { case NonFatal(e) => SparkSpec.record(s"$funcName: lint failed: $e") }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
