package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, QueryStats, SparkEntry, Tables}
import graft.functions.{tdigest, texthash, textops, vectors}
import graft.operators.{Ann, InvertedIndex, VectorSearch}

/** The benchmark's JVM side. One process runs one workload:
  *
  *   set up (session, cold builds of every serving layout, warmup) →
  *   timed phase → checks → metrics file.
  *
  * Every op is timed at the boundary of each layer it enters: the
  * builder call (`operators`), forcing the physical plan (`plans`), and
  * executing it (`exec`). With `--trace 1` the same ops also record
  * spans, Spark listener counters, scan statistics and layout
  * snapshots; without it only the op boundaries are timed.
  *
  * Usage: perfbench.Harness run --workload W --seed N --seconds S
  *          --trace 0|1 --corpus DIR --work DIR --out FILE
  *          --reference FILE [--digests FILE] [--spans FILE]
  *        perfbench.Harness digests --corpus DIR --out FILE [--cpus N]
  *
  * A run uses `local[nproc]`; only `digests` takes a core count, to
  * show that the recorded digests do not depend on it.
  */
object Harness {

  /** The batch job list: analytics, curation and streaming jobs. */
  val BatchJobs: Seq[String] = Seq("q3_join_agg", "d6_dup_clusters", "s10_stream_index")

  val K = 10
  /** Probe widths an `ann` request draws from: the engine's serving
    * width `Ann.NProbe` and the widths around it that `graft.Recall`
    * sweeps. */
  val NProbes: Seq[Int] = (Seq(2, 4, 8, 16) :+ Ann.NProbe).distinct.sorted
  /** Untimed search blocks after the cold builds, so the timed phase
    * starts with the driver's code compiled. */
  val WarmBlocks = 2
  /** Seeded queries behind `ann_recall_at_10`, run untimed. */
  val RecallQueries = 128
  /** `exact` requests a batch run sends after its timed phase, past one
    * to warm the path, for its `exact_p50_ms`. */
  val BatchExactRequests = 5

  final case class Conf(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, corpus: String,
                        work: String, out: String, cpus: Int,
                        digests: Option[String], spans: Option[String],
                        reference: String)

  def parse(argv: Array[String]): Conf = {
    val kv = argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    Conf(argv.headOption.getOrElse("run"), get("workload", "search"), get("seed", "1").toLong,
      get("seconds", "10").toDouble, get("trace", "0") == "1", kv("corpus"),
      get("work", "."), kv("out"),
      get("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      kv.get("digests"), kv.get("spans"),
      get("reference", ""))
  }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    c.mode match {
      case "run" => new Run(c).run()
      case "digests" =>
        val spark = GraftSession.local(c.cpus.toString)
        try {
          val ds = BatchJobs.sorted.map { n =>
            n -> Digest.hex(Digest.of(SparkEntry.queries(n)(spark, c.corpus)))
          }
          Files.writeString(Paths.get(c.out),
            ds.map { case (n, h) => s"""  "$n": "$h"""" }.mkString("{\n", ",\n", "\n}\n"))
        } finally spark.stop()
      case m => System.err.println(s"unknown mode $m"); sys.exit(2)
    }
  }

  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) CPU ticks of the machine since boot: time the
    * hypervisor gave this VM's CPUs to other guests. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val xs = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def procField(file: String, key: String): Double =
    try {
      scala.io.Source.fromFile(file).getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def countReused(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countReused(a.executedPlan)
    case q: QueryStageExec => countReused(q.plan)
    case r: ReusedExchangeExec => 1 + countReused(r.child)
    case other => other.children.map(countReused).sum + other.subqueries.map(countReused).sum
  }
}

/** One op as timed: its kind (or batch job name), latency and verdict. */
final case class OpRec(id: Int, kind: String, ms: Double, failure: Option[String])

final class Run(c: Harness.Conf) {
  import Harness._

  private val jvmStartMs: Long = ProcessHandle.current.info.startInstant
    .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis)

  if (c.trace)
    System.setProperty("spark.sql.streaming.streamingQueryListeners", classOf[StreamStats].getName)
  private val load1Pre = load1()
  private val cpus = Runtime.getRuntime.availableProcessors
  val spark: SparkSession = GraftSession.local(cpus.toString)
  private val sessionS = (System.currentTimeMillis - jvmStartMs) / 1000.0
  private val sc = spark.sparkContext
  val tr = new Tracer(c.trace, sc)
  private val execL = new ExecListener
  if (c.trace) sc.addSparkListener(execL)

  private val phases = ArrayBuffer.empty[(String, Double)]
  private def phase(name: String): Unit =
    phases += name -> (System.currentTimeMillis - jvmStartMs) / 1000.0
  phase("session")

  private val rng = new Random(c.seed)
  private val d = c.corpus
  private val work = new File(c.work)

  // the benchmark's own view of the corpus, read around the engine
  private val docsPath = s"$d/documents.parquet"
  private val embsPath = s"$d/embeddings.parquet"
  private val ref = Reference.load(c.reference)
  private val referenceS = (System.currentTimeMillis - jvmStartMs) / 1000.0 - sessionS
  private val labels = ref.items.map(_.label).distinct.sorted.toIndexedSeq
  private val vocab: IndexedSeq[String] = ref.docTokens.flatMap(_._2.distinct)
    .groupBy(identity).toSeq.map { case (t, xs) => (t, xs.size) }
    .sortBy { case (t, n) => (-n, t) }.map(_._1).toIndexedSeq

  // ------------------------------------------------------------ records
  val ops = ArrayBuffer.empty[OpRec]
  private val warmFailures = ArrayBuffer.empty[String]
  private var warmOps = 0
  private val recalls = ArrayBuffer.empty[Double]
  private val batchExactMs = ArrayBuffer.empty[Double]
  private val scans = ArrayBuffer.empty[QueryStats]
  private val reused = ArrayBuffer.empty[Int]
  private val textBuildJobsSpan = ArrayBuffer.empty[Int] // operators span ids of text ops
  private val ensureMs = ArrayBuffer.empty[Double]
  private var opId = 0
  private var timed = false

  // -------------------------------------------------------------- layers
  /** Times one op across its layers; returns (answer, frame, latency ms). */
  private def op[T](kind: String)(build: => DataFrame)(consume: DataFrame => T): (T, DataFrame, Double) = {
    val id = if (timed) { opId += 1; opId } else 0
    val t0 = System.nanoTime()
    val (df, out) = tr(s"op.$kind", id) {
      val df = tr("operators", id)(build)
      if (kind == "text") tr.spans.lastOption.foreach(s => textBuildJobsSpan += s.id)
      tr("plans", id)(df.queryExecution.executedPlan)
      (df, tr("exec", id)(consume(df)))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (c.trace && timed) {
      scans += QueryStats.of(df)
      reused += countReused(df.queryExecution.executedPlan)
    }
    (out, df, ms)
  }

  private def record(kind: String, ms: Double, failure: Option[String]): Unit =
    if (timed) ops += OpRec(opId, kind, ms, failure)
    else { warmOps += 1; failure.foreach(warmFailures += _) }

  /** Cold-builds every serving layout into an empty tmpdir of its own,
    * timing each ensure call. */
  private def coldBuild(): Unit = {
    val root = new File(work, "tmp/layouts")
    root.mkdirs()
    System.setProperty("java.io.tmpdir", root.getAbsolutePath)
    Seq[(String, () => String)](
      "combined" -> (() => VectorSearch.ensureCombined(spark, d)),
      "ivf" -> (() => Ann.ensureIvfIndex(spark, d)),
      "ivf_i8" -> (() => Ann.ensureIvfIndexI8(spark, d)),
      "token" -> (() => InvertedIndex.ensureIndex(spark, d))
    ).foreach { case (name, ensure) =>
      val e0 = System.nanoTime()
      tr(s"sources.ensure.$name", 0)(ensure())
      ensureMs += (System.nanoTime() - e0) / 1e6
    }
  }

  // ------------------------------------------------------------ requests
  private def queryNear(): Seq[Double] = {
    val base = ref.items(rng.nextInt(ref.items.size)).vec
    base.toSeq.map(_.toDouble + 0.02 * rng.nextGaussian())
  }

  private def exact(q: Seq[Double], filter: Option[Seq[Int]]): (Seq[(Long, Double)], Double) = {
    val (rows, _, ms) = op("exact") {
      val combined = Tables.loadLayout(spark, VectorSearch.ensureCombined(spark, d))
      val base = filter.fold(combined)(ls => combined.filter(expr(s"label IN (${ls.mkString(", ")})")))
      base.withColumn("score", vectors.l2Distance(
          col("image_embedding").cast("array<double>"), typedlit(q)))
        .select(col("doc_id").cast("long").as("doc_id"), col("caption"),
          col("lang"), col("source"), col("label").cast("long").as("label"), col("score"))
        .orderBy(col("score"), col("doc_id"))
        .limit(K)
    }(_.collect())
    (rows.map(r => (r.getLong(0), r.getDouble(5))).toSeq, ms)
  }

  private def requestExact(): Double = {
    val filter = rng.shuffle(labels).take(3).sorted
    val q = queryNear()
    val (got, ms) = exact(q, Some(filter))
    val keep = (it: Item) => filter.contains(it.label)
    val exp = ref.topK(q, K, withDoc = true, keep)
    record("exact", ms, Verdict.ranked("exact", got, exp,
      id => ref.byId.get(id).filter(it => it.lang != null && keep(it)).map(it => ref.l2(it.vec, q)), 1e-9))
    ms
  }

  private def ann(q: Seq[Double], nprobe: Int): (Seq[(Long, Double)], Double) = {
    val (rows, _, ms) = op("ann") {
      Ann.quantizedIvfKnn(spark, d, k = K, nprobe = nprobe, queryVecs = Seq((0, q)))
    }(_.collect())
    (rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq, ms)
  }

  /** An ANN answer is right when every reported distance is the row's
    * true distance, ranks ascend, and no row repeats; how many of the
    * true neighbours it found is recall, not correctness. */
  private def annValid(got: Seq[(Long, Double)], q: Seq[Double]): Option[String] =
    if (got.isEmpty || got.size > K) Some(s"ann: ${got.size} rows")
    else if (got.map(_._1).distinct.size != got.size) Some("ann: duplicate ids")
    else if (got.map(_._2) != got.map(_._2).sorted) Some("ann: ranks not ascending")
    else got.collectFirst {
      case (id, s) if !ref.byId.get(id).exists(it => math.abs(ref.l2(it.vec, q) - s) <= 1e-9 * (1 + s)) =>
        s"ann: id $id reports $s"
    }

  private def requestAnn(): Unit = {
    val nprobe = NProbes(rng.nextInt(NProbes.size))
    val q = queryNear()
    val (got, ms) = ann(q, nprobe)
    record("ann", ms, annValid(got, q))
  }

  /** Recall of `ann` at the engine's serving width `Ann.NProbe`, over
    * seeded queries drawn like the requests', in one untimed batched
    * call. Each answer is checked like a request's. */
  private def recallSet(): Unit = {
    val qs = (0 until RecallQueries).map(i => (i, queryNear()))
    val rows = Ann.quantizedIvfKnn(spark, d, k = K, nprobe = Ann.NProbe, queryVecs = qs).collect()
      .groupBy(_.getAs[Int]("query_id"))
    qs.foreach { case (i, q) =>
      val got = rows.getOrElse(i, Array.empty[Row])
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq
        .sortBy { case (id, s) => (s, id) }
      val exp = ref.topK(q, K, withDoc = false)
      recalls += got.map(_._1).toSet.intersect(exp.map(_._1).toSet).size.toDouble / K
      record("ann", 0.0, annValid(got, q))
    }
  }

  // needles: one or two distinct terms, each drawn from a Zipf over the
  // vocabulary ranked by document frequency. The engine's stats cache
  // is keyed by needle, so it hits exactly when the draws repeat one.
  private lazy val zipfCdf: IndexedSeq[Double] = {
    val w = vocab.indices.map(r => 1.0 / (r + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private def zipfTerm(): String = {
    val u = rng.nextDouble()
    vocab(math.min(zipfCdf.indexWhere(_ >= u) max 0, vocab.size - 1))
  }
  private def nextNeedle(): Seq[String] = {
    val terms = math.min(1 + rng.nextInt(2), vocab.size)
    var needle = Seq(zipfTerm())
    while (needle.size < terms) {
      val t = zipfTerm()
      if (!needle.contains(t)) needle :+= t
    }
    needle
  }

  private def requestText(): Unit = {
    val needle = nextNeedle()
    val (rows, _, ms) = op("text") {
      InvertedIndex.bm25Indexed(spark, d, needle)
        .orderBy(col("bm25").desc, col("doc_id")).limit(K)
    }(_.collect())
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    val all = ref.bm25(needle, InvertedIndex.K1, InvertedIndex.B)
    val byDoc = all.toMap
    record("text", ms, Verdict.ranked(s"text[${needle.mkString(" ")}]", got, all.take(K),
      byDoc.get, 1e-5))
  }

  // ------------------------------------------------------------- workloads
  /** One request of each kind, in a seeded order. */
  private def searchBlock(): Unit =
    rng.shuffle(Seq("exact", "ann", "text")).foreach {
      case "exact" => requestExact(): Unit
      case "ann" => requestAnn()
      case _ => requestText()
    }

  private lazy val digests: Map[String, String] = c.digests.map { f =>
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(Files.readString(Paths.get(f)))
      .map(m => m.group(1) -> m.group(2)).toMap
  }.getOrElse(Map.empty)

  private def batchJob(name: String): Unit = {
    val (dig, _, ms) = op("job") {
      SparkEntry.queries(name)(spark, d)
    }(Digest.of)
    val h = Digest.hex(dig)
    record(name, ms, digests.get(name) match {
      case Some(e) if e == h => None
      case Some(e) => Some(s"$name: digest $h, expected $e")
      case None => Some(s"$name: no recorded digest (got $h)")
    })
  }

  private def batchPass(): Unit = rng.shuffle(BatchJobs).foreach(batchJob)

  // ---------------------------------------------------------------- run
  def run(): Unit = {
    phase("reference")
    // Both workloads cold-build the serving layouts, which the recall
    // queries read, and warm up: search with blocks of one request per
    // kind, batch with one pass over its jobs. The timed phase then runs
    // whole blocks or passes until --seconds have elapsed.
    val (warm, unit) = c.workload match {
      case "search" => ((() => (1 to WarmBlocks).foreach(_ => searchBlock())), () => searchBlock())
      case "batch" => ((() => batchPass()), () => batchPass())
      case w => sys.error(s"unknown workload $w")
    }
    coldBuild()
    warm()
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0 - referenceS
    phase("setup")

    timed = true
    val ticks0 = cpuTicks()
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    do unit() while (System.nanoTime() < deadline)
    val wallS = (System.nanoTime() - t0) / 1e9
    phase("timed")
    val ticks1 = cpuTicks()
    timed = false
    val driverGc = gcMs() - gc0

    if (c.workload == "batch") {
      requestExact()
      batchExactMs ++= Seq.fill(BatchExactRequests)(requestExact())
    }
    recallSet()

    val e2e = endToEnd(setupS, wallS)
    val layers = if (c.trace) perLayer(wallS, driverGc) else Map.empty[String, Double]
    phase("layers")
    val (probeT1, probeMt) = Bench.probe()
    phase("probe")
    val machine = Map[String, Any](
      "nproc" -> cpus,
      "mem_total_kb" -> procField("/proc/meminfo", "MemTotal"),
      "local" -> s"local[$cpus]",
      "load1_pre" -> load1Pre, "load1_post" -> load1(),
      "steal_share" -> (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2),
      "probe_t1_s" -> probeT1, "probe_mt_s" -> probeMt)
    c.spans.foreach(p => tr.writeJsonl(Paths.get(p), tr.spans.map(_.startNs).minOption.getOrElse(0L)))
    writeResult(e2e, layers, machine, failures, wallS)
    spark.stop()
  }

  private def failures: Seq[String] = (warmFailures ++ ops.flatMap(_.failure)).toSeq
  private def attempted: Int = warmOps + ops.size

  /** The layouts the run persisted: the engine's `graft-*` directories
    * under the current tmpdir, less the streaming scratch space. */
  /** Data files under `dir`: Spark's `_SUCCESS`, checksums and the
    * engine's markers are not data. */
  private def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (dir.isFile && !dir.getName.startsWith("_") && !dir.getName.startsWith(".")) Seq(dir)
    else Nil

  private def dataBytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  private def layoutDirs: Seq[File] =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-") && f.getName != "graft-stream")

  private def endToEnd(setupS: Double, wallS: Double): Map[String, Double] = {
    val layoutBytes = layoutDirs.map(dataBytes).sum
    val corpusBytes = dataBytes(new File(docsPath)) + dataBytes(new File(embsPath))
    Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "ops_per_s" -> ops.size / wallS,
      "fail_ratio" -> failures.size.toDouble / attempted,
      "peak_rss_mb" -> procField("/proc/self/status", "VmHWM") / 1024.0,
      "ann_recall_at_10" -> mean(recalls.toSeq),
      "layout_bytes_per_corpus_byte" -> layoutBytes.toDouble / corpusBytes) ++
      // latency per request kind; batch has only its `exact` requests
      Seq("exact", "ann", "text").map(k => k -> (ops.filter(_.kind == k).map(_.ms) ++
          (if (k == "exact") batchExactMs else Nil)).toSeq)
        .collect { case (k, ms) if ms.nonEmpty => s"${k}_p50_ms" -> median(ms) } ++
      (if (c.workload == "batch" && ops.nonEmpty)
        Seq("geomean_s" -> math.exp(mean(ops.map(o => math.log(o.ms / 1000.0)).toSeq))) else Nil)
  }

  // ----------------------------------------------------------- per layer
  private def perLayer(wallS: Double, driverGc: Long): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val unitIds = ops.map(_.id).toSet
    val timedSpans = tr.spans.filter(s => unitIds.contains(s.op))
    def spansNamed(n: String) = timedSpans.filter(_.name == n)
    val nOps = math.max(1, ops.size)
    val build = spansNamed("operators")
    val plans = spansNamed("plans")
    val execs = spansNamed("exec")
    def counts(ss: Iterable[Span]) = ss.map(s => execL.bySpan.get(s.id)).filter(_ != null)
    val all = counts(timedSpans)
    def total(f: ExecCounts => Long, ss: Iterable[ExecCounts] = all) = ss.iterator.map(f).sum.toDouble
    val textOps = textBuildJobsSpan.filter(id => tr.spans.exists(s => s.id == id && s.op > 0))
    val textHits = textOps.count(id => Option(execL.bySpan.get(id)).forall(_.jobs.get == 0))
    val kernels = Kernels.measure(spark, d, Ann.ensureIvfIndexI8(spark, d))
    Map(
      "operators.build_ms" -> median(build.map(_.ms).toSeq),
      "operators.build_jobs" -> total(_.jobs.get, counts(build)) / nOps,
      "operators.stats_hit_ratio" -> (if (textOps.isEmpty) 0.0 else textHits.toDouble / textOps.size),
      "plans.plan_ms" -> median(plans.map(_.ms).toSeq),
      "exec.ms" -> median(execs.map(_.ms).toSeq),
      "exec.jobs" -> total(_.jobs.get) / nOps,
      "exec.stages" -> total(_.stages.get) / nOps,
      "exec.tasks" -> total(_.tasks.get) / nOps,
      "exec.task_run_ms" -> total(_.runMs.get) / nOps,
      "exec.task_cpu_ms" -> total(_.cpuNs.get) / 1e6 / nOps,
      "exec.gc_ms" -> total(_.gcMs.get) / nOps,
      "exec.core_util" -> total(_.runMs.get) / (wallS * 1000.0 * cpus),
      "exec.shuffle_write_bytes" -> total(_.shuffleWrite.get) / nOps,
      "exec.shuffle_read_bytes" -> total(_.shuffleRead.get) / nOps,
      "exec.spill_bytes" -> total(_.spill.get) / nOps,
      "exec.reused_exchanges" -> mean(reused.map(_.toDouble).toSeq),
      "sources.scan_rows" -> mean(scans.map(_.rowsRead.toDouble).toSeq),
      "sources.scan_bytes" -> mean(scans.map(_.bytesRead.toDouble).toSeq),
      "sources.scan_files" -> mean(scans.map(_.filesRead.toDouble).toSeq),
      "sources.ensure_ms" -> (if (ensureMs.isEmpty) 0.0 else median(ensureMs.toSeq)),
      "sources.layout_files" -> layoutDirs.map(dataFiles(_).size).sum.toDouble,
      "streaming.batches" -> StreamStats.batches.get.toDouble,
      "streaming.batch_ms" ->
        (if (StreamStats.batches.get == 0) 0.0 else StreamStats.batchMs.get.toDouble / StreamStats.batches.get),
      "streaming.startup_ms" ->
        (if (StreamStats.queries.get == 0) 0.0 else StreamStats.startupMs.get.toDouble / StreamStats.queries.get),
      "streaming.input_rows" -> StreamStats.inputRows.get.toDouble,
      "driver.gc_ms" -> driverGc.toDouble
    ) ++ kernels
  }

  // --------------------------------------------------------------- output
  private def writeResult(e2e: Map[String, Double], layers: Map[String, Double],
                          machine: Map[String, Any], failures: Seq[String], wallS: Double): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ch if ch < ' ' => " "; case ch => ch.toString
    } + "\""
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val mach = machine.toSeq.sortBy(_._1).map {
      case (k, v: String) => s"${str(k)}: ${str(v)}"
      case (k, v: Double) => s"${str(k)}: ${num(v)}"
      case (k, v) => s"${str(k)}: $v"
    }.mkString("{", ", ", "}")
    val kinds = ops.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, xs) => s"${str(k)}: ${xs.size}" }.mkString("{", ", ", "}")
    val opMs = ops.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, xs) => s"${str(k)}: ${xs.map(o => num(o.ms)).mkString("[", ", ", "]")}" }
      .mkString("{", ", ", "}")
    val json =
      s"""{"workload": ${str(c.workload)}, "seed": ${c.seed}, "trace": ${c.trace},
         | "attempted": $attempted,
         | "failed": ${failures.size},
         | "failures": ${failures.take(20).map(str).mkString("[", ", ", "]")},
         | "ops": $kinds, "op_ms": $opMs, "wall_s": ${num(wallS)},
         | "phases_s": ${obj(phases.toMap)},
         | "e2e": ${obj(e2e)},
         | "layers": ${obj(layers)},
         | "machine": $mach}
         |""".stripMargin
    Files.writeString(Paths.get(c.out), json)
  }
}

/** Per-row cost of the engine's column functions: each function is
  * projected over a corpus column, its rows repeated until one job
  * takes far longer than a job's launch, and a projection that only
  * touches the same column (its size, or for an aggregate its max) is
  * subtracted. A cheap function is applied several times per row, each
  * with another constant so no copy is shared, so that its work
  * outweighs the cost of producing the rows. The fastest of several
  * jobs is the estimate least disturbed by other work. */
object Kernels {
  val Reps = 4
  /** Rows are repeated until one kernel job takes about this long. */
  val TargetMs = 400.0
  val CalibrationRows = 100000L
  /** Copies per row of the vector kernels and of the t-digest. */
  val VecCopies = 16
  val DigestCopies = 4

  def measure(spark: SparkSession, d: String, i8Dir: String): Map[String, Double] = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
    def timeNoop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    /** `src`'s first column is the kernel's input; `kernel(i)` is its
      * i-th copy. */
    def nsRow(src: DataFrame, copies: Int, agg: Boolean = false)(kernel: Int => Column): Double = {
      val in = src.schema.head
      val touch =
        if (agg) max(col(in.name))
        else in.dataType match {
          case _: ArrayType => size(col(in.name))
          case BinaryType | StringType => length(col(in.name))
          case _ => col(in.name)
        }
      val n = math.max(1L, src.count())
      val kernels = (1 to copies).map(kernel)
      def job(times: Long, cls: Seq[Column]): Double = {
        val df = src.crossJoin(spark.range(times).toDF("rep")).drop("rep")
        timeNoop(if (agg) df.agg(cls.head, cls.tail: _*) else df.select(cls: _*))
      }
      // grow the input until a kernel job takes about TargetMs; these
      // jobs also warm the kernel
      var times = math.max(1L, CalibrationRows / n)
      var t = job(times, kernels)
      var steps = 0
      while (t < TargetMs * 1e6 / 2 && steps < 5) {
        times = math.max(times * 2, math.ceil(times * TargetMs * 1e6 / t).toLong)
        t = job(times, kernels)
        steps += 1
      }
      job(times, kernels) // warm at the final size
      job(times, Seq(touch))
      // alternate, so that a slow spell of the machine hits both alike
      val (k, p) = (1 to Reps).map(_ => (job(times, kernels), job(times, Seq(touch)))).unzip
      (k.min - p.min) / (times * n * copies)
    }
    val q = (i: Int) => typedlit(VectorSearch.qvec(i))
    val embs = Tables.embeddings(spark, d).select(col("embedding")).cache()
    val i8 = Tables.loadLayout(spark, i8Dir).select(col("qemb"), col("scale")).cache()
    val toks = Tables.documents(spark, d).select(textops.tokens(col("text")).as("toks")).cache()
    val hashes = Tables.documents(spark, d).select(
      texthash.shingleHash60s(textops.tokens(col("text"))).as("h")).cache()
    val values = Tables.events(spark, d).select(col("value")).cache()
    val out = Map(
      "functions.l2_ns_row" -> nsRow(embs, VecCopies)(i => vectors.l2Distance(col("embedding"), q(i))),
      "functions.cosine_ns_row" -> nsRow(embs, VecCopies)(i => vectors.cosineDistance(col("embedding"), q(i))),
      "functions.l2_i8_ns_row" -> nsRow(i8, VecCopies)(i =>
        vectors.l2DistanceI8(col("qemb"), col("scale"), q(i))),
      "functions.minhash_ns_row" -> nsRow(hashes, 1)(_ => texthash.minhashSignature(col("h"))),
      "functions.simhash_ns_row" -> nsRow(hashes, 1)(_ => texthash.simhash60(col("h"))),
      "functions.shingle_ns_row" -> nsRow(toks, 1)(_ => texthash.wordShingles(col("toks"))),
      "functions.tdigest_ns_row" -> nsRow(values, DigestCopies, agg = true)(i =>
        tdigest.tdigestQuantiles(col("value"), Seq(0.5, 0.9, 0.99), 100.0 + i)))
    Seq(embs, i8, toks, hashes, values).foreach(_.unpersist())
    out
  }
}
