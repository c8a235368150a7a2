package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit helper.
  *
  *  - `runMain graft.ExplainQ <name> [run]` — formatted physical plan
  *    for one query, optionally timed twice (cold/warm).
  *  - `runMain graft.ExplainQ --audit` — sweep EVERY registered query:
  *    one `[audit] <name>: wall/rowsRead/files/bytes/scans` line per
  *    query (the reference's per-search exec-stats surface,
  *    search.py:35, for the whole inventory — the numbers a perf
  *    adjudication reads), plus a flag for any scan-stage data filter
  *    that contains expensive expressions (hashing, regex,
  *    higher-order lambdas). Predicate pushdown substituting a derived
  *    column's whole defining expression into the scan filter was the
  *    dominant profiled pathology this engine tunes against (see
  *    GraftSession / Dedup.spreadBuildMaterialize); the flag catches
  *    regressions. A `GENERATOR RE-EVAL` line is a
  *    [[graft.plans.GeneratorLint]] finding: an operator that evaluates
  *    a generator's input again per generated row.
  */
object ExplainQ {
  private val HeavyFilter =
    Seq("md5(", "transform(", "aggregate(", "array_min(", "zip_with(",
      "concat_ws(", "minhash", "simhash", "shingle")

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if (name == "--audit") {
      // AQE's wrapper node hides the plan tree from collect(); the audit
      // inspects the static plan, which has the same filter placement
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      var flagged = 0
      var reEval = 0
      var listed = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        // scan-stage filters = FilterExec nodes with no exchange below
        // them (i.e. they run fused with the scan, before any spread)
        val scanStageFilters = plan.collectWithSubqueries {
          case f: org.apache.spark.sql.execution.FilterExec
              if f.child.collectFirst {
                case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
              }.isEmpty => f
        }
        scanStageFilters.foreach { f =>
          val cond = f.condition.toString
          if (HeavyFilter.exists(cond.contains)) {
            flagged += 1
            println(s"[audit] $q: HEAVY scan-stage filter: ${cond.take(300)}")
          }
        }
        graft.plans.GeneratorLint.findings(plan).foreach { f =>
          reEval += 1
          println(s"[audit] $q: GENERATOR RE-EVAL $f")
        }
        // exec-stats line for EVERY query (fresh frame: SQL metrics
        // accumulate per plan instance; streaming gates re-run their
        // bounded stream and report the sink-read scan)
        val stats = QueryStats.run(fn(spark, sfDir))
        listed += 1
        println(s"[audit] $q: ${stats.pretty}")
      }
      println(s"[audit] done, $listed queries listed, $flagged heavy " +
        s"scan filter(s) flagged (hash-based sampling predicates are " +
        s"expected to appear), $reEval generator re-evaluation(s)")
    } else {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      if (args.length > 1 && args(1) == "run") {
        // fresh frame per run: SQL metrics accumulate per plan instance
        (1 to 2).foreach { i =>
          val stats = QueryStats.run(SparkEntry.queries(name)(spark, sfDir))
          val label = if (i == 1) "cold" else "warm"
          println(s"[explainq] $name $label: ${stats.pretty}")
        }
      }
    }
    spark.stop()
  }
}
