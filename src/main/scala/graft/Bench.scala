package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measurement discipline (round-1 + round-5 verdict fixes):
  *  - `noop` write sink, not `.count()` — count() lets Catalyst drop
  *    top-level sorts/projections, so e.g. a full-sort query never
  *    sorted; noop materialises every output row through the full plan.
  *  - one untimed warmup pass over all queries first (JVM/JIT + codegen
  *    cache + parquet footer cache), so the first timed query doesn't
  *    eat cold-start.
  *  - MEDIAN of [[Runs]] timed runs per query, with min/max spread
  *    reported alongside. Five rounds of single-run numbers swung up to
  *    3.5× on byte-identical plans (BENCH_r03 72.4s / r04 119.5s / r05
  *    34.5s — JIT/GC/compilation races across 52 queries in one JVM);
  *    a median over 3 runs plus the visible spread is the minimum
  *    needed to adjudicate any per-query regression.
  *  - deterministic sorted query order, so round-over-round per-query
  *    numbers are comparable.
  *
  * `value` / `queries` are medians; `spread` carries {min,max} per
  * query so a noisy reading is visible as a wide interval instead of
  * masquerading as a regression.
  */
object Bench {
  /** Timed runs per query — overridable for long one-off rehearsals
    * (the sf1 scale run) via SPARK_GRAFT_BENCH_RUNS; the driver never
    * sets it, so per-round records stay medians of 3. */
  val Runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)

  // ------------------------------------------------- calibration probe
  //
  // Rounds 9, 11, 18 and 19 each produced a per-round record inflated
  // 1.2–1.4× ACROSS untouched scan-only queries because the driver's
  // bench ran right after (or concurrently with) a compile+test storm
  // in the same container — and each time the contamination had to be
  // adjudicated post-hoc in BASELINE from timestamps. The probe makes
  // the record self-annotating: a fixed, data-independent CPU workload
  // runs before and after the timed queries, and the JSON carries the
  // measured times plus a verdict against the frozen idle-machine
  // band. A `contended` verdict means per-query comparisons against
  // frozen medians are unreliable for that record — re-run on an idle
  // machine instead of arguing with the numbers.

  /** Xorshift iterations per probe leg: ~0.25 s single-thread on this
    * container when idle (calibrated r20). */
  val ProbeIters = 300000000L

  /** Frozen idle bands (seconds): single-thread leg and all-cores leg
    * (32 concurrent copies of the same loop). The multi-thread leg is
    * the contention detector — a concurrent sbt compile/test inflates
    * it well past the band while the 1t leg moves less. Upper bounds
    * only; a faster machine reads clean, which is correct (comparisons
    * are conservative).
    *
    * RECALIBRATED r21: the container changed between rounds. The r20
    * machine measured idle t1 ∈ [0.49, 0.58], mt ∈ [0.62, 0.66]
    * (bands 0.75 / 0.95); the r21 container measures idle t1 ∈
    * [0.71, 0.80], mt ∈ [1.11, 1.32] over 5 runs at load1 < 2.1 —
    * ~1.4× slower single-thread, ~1.9× on the all-cores leg — so the
    * old bands sat BELOW this machine's idle floor and every record
    * read `contended` (bench_sf01_r21a.json is such a false positive;
    * its own mt_post leg, 0.87, beat the machine's idle median).
    * Bands again sit ~1.3–1.4× above the measured idle max. */
  val ProbeT1Max = 1.10
  val ProbeMtMax = 1.75

  @volatile private var probeSink = 0L // defeats dead-code elimination

  /** 1-minute load average (Linux), −1 elsewhere: recorded, not
    * gating. The probe legs are ~0.5 s samples and can straddle
    * INTERMITTENT load that still drifts the record (measured r20: a
    * replicate at load-avg ~3 read probe-clean yet ran a uniform
    * 1.24× of the idle record), so the record carries the kernel's
    * own 1-minute average for the adjudicator. */
  private def load1(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  private def mix(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** One probe: (single-thread seconds, all-cores seconds). */
  def probe(): (Double, Double) = {
    probeSink ^= mix(ProbeIters / 10, 7L) // JIT warm, untimed
    val t0 = System.nanoTime()
    probeSink ^= mix(ProbeIters, 42L)
    val t1 = (System.nanoTime() - t0) / 1e9
    val n = Runtime.getRuntime.availableProcessors()
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val threads = (0 until n).map { i =>
      new Thread(() => acc.addAndGet(mix(ProbeIters, i + 1L)))
    }
    val t2 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val mt = (System.nanoTime() - t2) / 1e9
    probeSink ^= acc.get()
    (t1, mt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    // Local-iteration escape hatch: SPARK_GRAFT_BENCH_ONLY=d2,d3 runs
    // just the named queries (comma-separated prefixes). The driver
    // never sets it, so the per-round record stays the full surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    def runOne(name: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    names.foreach(runOne) // warmup, untimed
    val (probeT1Pre, probeMtPre) = probe()
    val load1Pre = load1()
    // In-run contention signal (r22, replaces reliance on the
    // bracketing probes alone): /proc/loadavg is sampled after every
    // timed query run and the per-query MAX lands in the full record.
    // The r21 32-core driver record was demonstrably contended in the
    // MIDDLE of the run (untouched scan queries 5–9× slow at c32 yet
    // r20-normal at c8) while both probe legs read clean — pre/post
    // bracketing is structurally blind to mid-run load. A per-query
    // load trace makes that failure mode self-evident in the record.
    val loadByQuery = scala.collection.mutable.Map.empty[String, Double]
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // run-major order (all queries, Runs times) rather than repeating
    // each query back-to-back: back-to-back repeats share a still-warm
    // cache/JIT state the per-round driver run never sees, and a GC
    // pause then hits all 3 samples of ONE query instead of one sample
    // of three queries.
    val samples: Seq[Seq[(String, Either[String, Double])]] =
      (1 to Runs).map(_ => names.map { n =>
        val r = runOne(n)
        val l = load1()
        if (l >= 0) {
          loadSamples += l
          loadByQuery(n) = math.max(loadByQuery.getOrElse(n, -1.0), l)
        }
        n -> r
      })
    // second probe AFTER the timed runs: contention that starts
    // mid-record (the r19 signature — tests kicked off while the bench
    // was running) is invisible to a pre-only probe
    val (probeT1Post, probeMtPost) = probe()
    val load1Post = load1()
    val probeVerdict =
      if (math.min(probeT1Pre, probeT1Post) <= ProbeT1Max &&
          math.min(probeMtPre, probeMtPost) <= ProbeMtMax &&
          math.max(probeT1Pre, probeT1Post) <= ProbeT1Max * 1.5 &&
          math.max(probeMtPre, probeMtPost) <= ProbeMtMax * 1.5) "clean"
      else "contended"
    val byName: Seq[(String, Seq[Either[String, Double]])] =
      names.map(n => n -> samples.map(_.toMap.apply(n)))
    // Locale.ROOT: f"" uses the JVM default locale, so a comma-decimal
    // locale (de_DE) would emit 12,3456 and break the JSON.
    def fmt(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // (median, min, max, ok-sample-count). A query that failed in SOME
    // runs must be LOUD too: its error still lands in `errors`/`failed`,
    // and `n` < Runs marks the median as computed over fewer samples.
    // Even-sized ok set (one run failed) → average the two middle
    // elements; taking the upper one would bias high exactly when flaky.
    val stats = byName.map { case (n, rs) =>
      val ok = rs.collect { case Right(v) => v }.sorted
      val err = rs.collectFirst { case Left(e) => e }
      val med =
        if (ok.isEmpty) None
        else if (ok.size % 2 == 1) Some(ok(ok.size / 2))
        else Some((ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0)
      (n, med.map(m => (m, ok.head, ok.last, ok.size)), err)
    }
    val qs = stats.collect { case (k, Some((med, _, _, _)), _) =>
      "\"" + k + "\":" + fmt(med) }.mkString("{", ",", "}")
    val spread = stats.collect { case (k, Some((_, lo, hi, n)), _) =>
      "\"" + k + "\":{\"min\":" + fmt(lo) + ",\"max\":" + fmt(hi) + ",\"n\":" + n + "}" }
      .mkString("{", ",", "}")
    // A failing query must be LOUD in the output — a silently shrinking
    // total would read as an improvement. Includes partial failures.
    val errs = stats.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + e.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"" }
    val errJson = errs.mkString("{", ",", "}")
    val total = stats.collect { case (_, Some((med, _, _, _)), _) => med }.sum
    def fmt2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val cpusDetected = Runtime.getRuntime.availableProcessors()
    val loadMax = if (loadSamples.isEmpty) -1.0 else loadSamples.max
    val loadMean =
      if (loadSamples.isEmpty) -1.0 else loadSamples.sum / loadSamples.size
    // per-query in-run load trace (max of the 1-min loadavg sampled
    // right after each of the query's timed runs) — the adjudicator's
    // mid-run contention evidence, full record only
    val loadJson = names.flatMap(n => loadByQuery.get(n).map(l =>
      "\"" + n + "\":" + fmt2(l))).mkString("{", ",", "}")
    // cpus_env vs cpus_detected: local[$SPARK_GRAFT_CPUS] on a cpuset
    // smaller than $SPARK_GRAFT_CPUS is oversubscription the r21 c32
    // record suffered invisibly; recording both makes it self-evident.
    val envJson = s""","cpus_env":"$cpus","cpus_detected":$cpusDetected,"load1_inrun":{"max":${fmt2(loadMax)},"mean":${fmt2(loadMean)},"n":${loadSamples.size}}"""
    val probeJson = s""","probe":{"t1_pre":${fmt(probeT1Pre)},"mt_pre":${fmt(probeMtPre)},"t1_post":${fmt(probeT1Post)},"mt_post":${fmt(probeMtPost)},"load1_pre":${fmt(load1Pre)},"load1_post":${fmt(load1Post)},"band_t1":${fmt(ProbeT1Max)},"band_mt":${fmt(ProbeMtMax)},"verdict":"$probeVerdict"}"""
    // Full archival record → FILE ONLY (r22; was also printed to
    // stdout). Per-cpu default filename: the r21 driver's c8 run
    // overwrote the c32 run's BENCH_full.json (single fixed name),
    // destroying the only full 32-core per-query record.
    // SPARK_GRAFT_BENCH_OUT still overrides for ad-hoc subset runs.
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$Runs,"failed":${errs.length},"errors":$errJson,"queries":$qs,"spread":$spread,"load1_by_query":$loadJson$envJson$probeJson,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_full_c$cpus.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // stdout contract (r22 verdict item 1): exactly ONE JSON line, and
    // it is the LAST line on stdout — build.sbt routes forked stdout
    // through unprefixed (StdoutOutput) and suppresses sbt's trailing
    // "[success]" line, the two reasons every earlier round's record
    // parsed to null. The line is additionally BOUNDED to fit the
    // driver's observed 2,000-char tail-capture window whole: queries
    // are added in descending-median order while the line stays under
    // budget, the omitted count is explicit (no silent truncation),
    // and the full per-query record (all queries + spread + load
    // trace) lives in the file above. Timed region, run count, query
    // set and methodology are unchanged from r20/r21.
    val lineBudget = 1900
    val byMedian = stats.collect { case (k, Some((med, _, _, _)), _) => (k, med) }
      .sortBy(-_._2)
    val fixedHead = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$Runs,"failed":${errs.length},"errors":$errJson,"queries":{"""
    def fixedTail(omitted: Int) =
      s"""},"queries_omitted":$omitted,"probe":"$probeVerdict","probe_t1":${fmt2(math.min(probeT1Pre, probeT1Post))},"probe_mt":${fmt2(math.min(probeMtPre, probeMtPost))}$envJson,"full":"$outFile","sf":"$sfDir"}"""
    val entries = byMedian.map { case (k, m) => "\"" + k + "\":" + fmt2(m) }
    // worst-case tail length is with the full omitted count
    val budget = lineBudget - fixedHead.length - fixedTail(byMedian.size).length
    var used = 0
    var taken = 0
    while (taken < entries.size &&
        used + entries(taken).length + (if (taken > 0) 1 else 0) <= budget) {
      used += entries(taken).length + (if (taken > 0) 1 else 0)
      taken += 1
    }
    val omitted = byMedian.size - taken
    println(fixedHead + entries.take(taken).mkString(",") + fixedTail(omitted))
    spark.stop()
  }
}
