package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VectorSearch
import graft.functions.{concepts, vectors}

/** Thin example client over the engine — the reference's presentation
  * layer (`search.py`) re-expressed against the Spark library.
  *
  * The reference CLI embeds the query client-side, runs ONE ranked
  * vector search, and renders the hits plus per-query stats
  * (`read_rows`, `query_time`, `generation_time` — `search.py:35`,
  * `:193-208`) into a local HTML file it then links. This main mirrors
  * that surface 1:1 on the engine's own operators:
  *
  *   search       --text "query text"  → embed (stub model) → knn over
  *                the image-side corpus vectors (`search.py:43`)
  *   search       --image-vec <id>     → a corpus image vector as the
  *                query, searched against the TEXT side (`search.py:54`)
  *   concept_math "'phrase' + 0.5 * 'other' - q0" → the infix concept
  *                algebra ([[concepts.parse]]), evaluated client-side
  *                to one literal, then one knn (`search.py:125-137`)
  *
  * Common flags: --dir <corpus> --limit <k> --filter <sql predicate>
  * (the reference's `WHERE {filter}` injection becomes a declarative
  * `df.filter(expr(...))` that Catalyst pushes into the scan) and
  * --out <html path>.
  *
  * Everything heavy stays in the engine: the CLI collects exactly the
  * top-k rows (bounded), and the stats card reads the executed plan's
  * own scan metrics ([[QueryStats]]) — the engine-side twin of
  * ClickHouse's `read_rows` summary. The HTML is an original minimal
  * template (the reference's jinja template is branding, not engine).
  */
object SearchCli {

  /** The query-side model: the deterministic stub by default (the
    * gate contract), or the REAL endpoint named by the
    * `graft.embed.endpoint` system property / GRAFT_EMBED_ENDPOINT
    * env var — a server wrapping an actual text encoder behind
    * [[VectorSearch.HttpBatchEmbedder]]'s JSON contract, at the
    * corpus dim (`graft.embed.dim` / GRAFT_EMBED_DIM overrides when a
    * real corpus was ingested at a different width). This is the
    * search.py:40-42 swap point; the server-backed path is proven
    * in-suite against an in-process model server (SearchCliSpec) and
    * end-to-end by RealEmbedderSmokeSpec against a live one. A `def`
    * re-reading the config per query: construction is trivial and the
    * property form is what lets a suite inject an endpoint into a
    * running JVM. */
  private def embedder: VectorSearch.BatchEmbedder =
    sys.props.get("graft.embed.endpoint")
      .orElse(sys.env.get("GRAFT_EMBED_ENDPOINT")) match {
      case Some(ep) => new VectorSearch.HttpBatchEmbedder(ep,
        sys.props.get("graft.embed.dim")
          .orElse(sys.env.get("GRAFT_EMBED_DIM")).map(_.toInt)
          .getOrElse(VectorSearch.Dim))
      case None => new VectorSearch.StubBatchEmbedder()
    }

  private def embedOne(text: String): Seq[Double] =
    embedder.embed(Array(text)).head.map(_.toDouble).toSeq

  /** `concept_math` environment: quoted phrases embed through the stub
    * model (the reference calls CLIP per concept, `search.py:71-73`);
    * bare idents q0/q1/q2 stay the deterministic gate literals. */
  private val conceptEnv: PartialFunction[String, Seq[Double]] = {
    case name if VectorSearch.conceptEnv.contains(name) =>
      VectorSearch.conceptEnv(name)
    case phrase => embedOne(phrase)
  }

  final case class Args(command: String, text: Option[String] = None,
      imageVec: Option[Long] = None, image: Option[String] = None,
      tokens: Option[String] = None, phrase: Option[String] = None,
      dir: String = "/root/testdata/sf0.001",
      limit: Int = 10, filter: Option[String] = None,
      out: String = "results.html",
      nprobe: Option[Int] = None, probes: Option[Int] = None,
      flips: Option[Int] = None, pq: Boolean = false,
      noOpen: Boolean = false)

  private def parseArgs(argv: Array[String]): Args = {
    require(argv.nonEmpty, usage)
    var a = Args(command = argv.head)
    var i = 1
    // concept_math takes its expression as the positional arg
    if (a.command == "concept_math" && argv.length > 1 && !argv(1).startsWith("--")) {
      a = a.copy(text = Some(argv(1))); i = 2
    }
    while (i < argv.length) {
      argv(i) match {
        case "--text"      => a = a.copy(text = Some(argv(i + 1))); i += 2
        case "--image-vec" => a = a.copy(imageVec = Some(argv(i + 1).toLong)); i += 2
        case "--image"     => a = a.copy(image = Some(argv(i + 1))); i += 2
        case "--tokens"    => a = a.copy(tokens = Some(argv(i + 1))); i += 2
        case "--phrase"    => a = a.copy(phrase = Some(argv(i + 1))); i += 2
        case "--dir"       => a = a.copy(dir = argv(i + 1)); i += 2
        case "--limit"     => a = a.copy(limit = argv(i + 1).toInt); i += 2
        case "--filter"    => a = a.copy(filter = Some(argv(i + 1))); i += 2
        case "--out"       => a = a.copy(out = argv(i + 1)); i += 2
        case "--nprobe"    => a = a.copy(nprobe = Some(argv(i + 1).toInt)); i += 2
        case "--probes"    => a = a.copy(probes = Some(argv(i + 1).toInt)); i += 2
        case "--flips"     => a = a.copy(flips = Some(argv(i + 1).toInt)); i += 2
        case "--pq"        => a = a.copy(pq = true); i += 1
        case "--no-open"   => a = a.copy(noOpen = true); i += 1
        case other => throw new IllegalArgumentException(s"unknown flag $other\n$usage")
      }
    }
    // --pq selects the IVF-PQ tier WITHIN the --nprobe family; silently
    // serving another index (or the exact path) under the flag would
    // misreport what was probed
    require(!a.pq || a.nprobe.isDefined,
      s"--pq applies only to --nprobe (the IVF serving tier)\n$usage")
    a
  }

  private val usage =
    """usage:
      |  SearchCli search --text "a query" [--dir D] [--limit K] [--filter "label IN (1,3)"] [--out results.html]
      |  SearchCli search --image-vec 42 [...]
      |  SearchCli search --image /path/to/picture.png [...]
      |  SearchCli search --tokens "vector,stream,join" [...]
      |  SearchCli search --phrase "stream table hash" [...]
      |  SearchCli search --text "a query" --nprobe 6   (ANN: int8 IVF index)
      |  SearchCli search --text "a query" --nprobe 6 --pq  (ANN: 8-byte IVF-PQ index)
      |  SearchCli search --text "a query" --probes 4   (ANN: LSH bucket index)
      |  SearchCli search --text "a query" --flips 3    (ANN: RP-tree index)
      |  SearchCli concept_math "'some phrase' + 0.5 * 'other' - q0" [...]
      |  (all commands: --no-open suppresses the browser-open attempt)""".stripMargin

  /** search.py:208 parity (`webbrowser.open_new(url)`): best-effort
    * open of the rendered artifact in the user's browser, suppressed
    * by `--no-open` and ALWAYS non-fatal — a headless sandbox has no
    * browser, and the printed file:// link is the contract either
    * way. Desktop.browse where a desktop exists, else xdg-open. */
  private def openInBrowser(a: Args, f: java.io.File): Unit = if (!a.noOpen) {
    try {
      if (java.awt.Desktop.isDesktopSupported &&
          java.awt.Desktop.getDesktop.isSupported(java.awt.Desktop.Action.BROWSE))
        java.awt.Desktop.getDesktop.browse(f.toURI)
      else {
        val pb = new ProcessBuilder("xdg-open", f.getAbsolutePath)
        pb.redirectErrorStream(true)
        pb.start()
      }
    } catch { case _: Exception => () } // headless: the link suffices
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    try run(spark, a) finally spark.stop()
  }

  /** `--image <file>`: the search.py:51 `search_with_images` path —
    * open a real image file, DECODE it for real
    * ([[graft.operators.Multimodal.ImageIoDecoder]]: javax.imageio,
    * fails loudly on non-image bytes), extract the real DCT pHash
    * feature ([[graft.operators.Multimodal.phashOfImage]]), and run
    * the canonical descriptor through the [[VectorSearch.BatchEmbedder]]
    * seam where the reference runs CLIP's image tower. Deterministic
    * end to end given the file's pixels, so the whole
    * file → decode → feature → embed → knn chain is testable. */
  private[graft] def embedImageFile(path: String): (Seq[Double], String) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // ONE decode pass supplies the pixels, dimensions and format name
    // (a second ImageIO.read of the same bytes would double the decode
    // cost and reader selection)
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val (img, format) =
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        require(readers.hasNext, s"$path: no image reader for payload")
        val reader = readers.next()
        reader.setInput(in)
        try { (reader.read(0), reader.getFormatName.toLowerCase) }
        finally reader.dispose()
      } finally in.close()
    val ph = graft.operators.Multimodal.phashOfImage(img)
    val desc = s"image:$format:${img.getWidth}x${img.getHeight}:ph=$ph"
    (embedOne(desc),
      s"image file $path (${img.getWidth}×${img.getHeight} $format)")
  }

  def run(spark: SparkSession, a: Args): Unit = {
    if (a.command == "search" && a.tokens.isDefined) return tokenSearch(spark, a)
    if (a.command == "search" && a.phrase.isDefined) return phraseSearchCli(spark, a)
    if (a.command == "search" &&
      (a.nprobe.isDefined || a.probes.isDefined || a.flips.isDefined))
      return annSearch(spark, a)
    vectors.register(spark)
    val combined = spark.read.parquet(VectorSearch.ensureCombined(spark, a.dir))

    // client-side "model" pass, timed separately like search.py:39-46
    val genT0 = System.nanoTime()
    val (queryVec, targetCol, queryDesc) = a.command match {
      case "search" if a.text.isDefined =>
        (embedOne(a.text.get), "image_embedding", a.text.get)
      case "search" if a.image.isDefined =>
        val (v, desc) = embedImageFile(a.image.get)
        (v, "text_embedding", desc)
      case "search" if a.imageVec.isDefined =>
        val id = a.imageVec.get
        val v = combined.filter(col("doc_id") === id)
          .select(col("image_embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        (v, "text_embedding", s"image vector #$id")
      case "concept_math" =>
        val e = a.text.getOrElse(throw new IllegalArgumentException(usage))
        (concepts.parse(e, conceptEnv), "image_embedding", e)
      case _ => throw new IllegalArgumentException(usage)
    }
    val genSec = (System.nanoTime() - genT0) / 1e9

    // the search itself: filter pushes to the scan, distance + top-k
    // run as TakeOrderedAndProject — identical to the gated v-family
    val base = a.filter.fold(combined)(f => combined.filter(expr(f)))
    val hits = base
      .withColumn("score", vectors.l2Distance(
        col(targetCol).cast("array<double>"),
        typedlit(queryVec)))
      .select(col("doc_id").cast("long").as("doc_id"), col("caption"),
        col("lang"), col("source"), col("label").cast("long").as("label"),
        col("score"))
      .orderBy(col("score"), col("doc_id"))
      .limit(a.limit)

    val qT0 = System.nanoTime()
    val rows = hits.collect() // bounded: exactly limit rows
    val qSec = (System.nanoTime() - qT0) / 1e9
    val stats = QueryStats.of(hits, qSec)

    val html = render(queryDesc, a, rows.toSeq.map(r => Hit(
      r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
      r.getLong(4), r.getDouble(5))), genSec, stats)
    val f = new java.io.File(a.out)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(html) finally w.close()

    // search.py prints the file link + the stats line, then opens it
    println(s"file://${f.getAbsolutePath}")
    openInBrowser(a, f)
    println(f"query_time=${qSec}%.3fs generation_time=${genSec}%.3fs " +
      s"read_rows=${stats.rowsRead} read_bytes=${stats.bytesRead}")
  }

  /** ANN serving path (`--nprobe` / `--probes` / `--flips`): the
    * per-request probe knobs the recall table in BASELINE.md freezes,
    * exposed on the CLI exactly where a user trades recall for probe
    * cost. Routes the embedded query through the PERSISTED
    * partition-pruned index of the chosen family instead of the exact
    * scan — `--nprobe` probes the int8 IVF cells (vq3's serving tier;
    * with `--pq` the 8-byte IVF-PQ tier, vq4), `--probes` the LSH
    * bucket ring (a2_indexed), `--flips` the
    * RP-tree spill leaves (a4_indexed) — then fetches presentation
    * metadata for exactly the k hit ids (a pushed-down `isin` point
    * read, bounded by `--limit`). The stats line reports the probed
    * fraction of the index alongside the scan counters, so the cost
    * half of the recall↔probe trade is visible per request. */
  private def annSearch(spark: SparkSession, a: Args): Unit = {
    import graft.operators.{Ann, RpTree}
    require(Seq(a.nprobe, a.probes, a.flips).flatten.size == 1,
      s"pass exactly one of --nprobe/--probes/--flips\n$usage")
    require(a.text.isDefined, "ANN probe knobs serve the image-side " +
      s"embedding index — combine them with --text\n$usage")
    require(a.filter.isEmpty, "ANN-indexed search returns the unfiltered " +
      "top-k (the index partitions on geometry, not metadata); drop " +
      s"--filter or use the exact path\n$usage")
    val genT0 = System.nanoTime()
    val qv = embedOne(a.text.get)
    val genSec = (System.nanoTime() - genT0) / 1e9
    val one = Seq(0 -> qv)
    val (hits, probedLabel) = (a.nprobe, a.probes, a.flips) match {
      case (Some(np), _, _) =>
        val cells = math.min(math.max(np, 1), Ann.NumCentroids)
        if (a.pq)
          (Ann.ivfPqKnn(spark, a.dir, a.limit, cells, one),
            s"probed=$cells/${Ann.NumCentroids} ivf_cells pq=8B")
        else
          (Ann.quantizedIvfKnn(spark, a.dir, a.limit, cells, one),
            s"probed=$cells/${Ann.NumCentroids} ivf_cells")
      case (_, Some(p), _) =>
        val pr = math.min(math.max(p, 1), Ann.NumPlanes + 1)
        (Ann.indexedLshKnn(spark, a.dir, a.limit, pr, one),
          s"probed=$pr/${1 << Ann.NumPlanes} lsh_buckets")
      case (_, _, Some(f)) =>
        val flips = math.min(math.max(f, 0), RpTree.Depth)
        val leaves =
          RpTree.probeLeaves(RpTree.treeFor(spark, a.dir), qv, flips).size
        (RpTree.indexedQuery(spark, a.dir, a.limit, flips, one),
          s"probed=$leaves/${1 << RpTree.Depth} tree_leaves")
      case _ => throw new IllegalStateException("unreachable")
    }
    val qT0 = System.nanoTime()
    val scored = hits.collect() // bounded: at most limit rows
    val qSec = (System.nanoTime() - qT0) / 1e9
    val stats = QueryStats.of(hits, qSec)
    // presentation metadata for exactly the hit ids — a point read the
    // scan prunes on (k values), never a corpus join
    val score = scored.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val meta =
      if (scored.isEmpty) Map.empty[Long, Hit]
      else spark.read.parquet(VectorSearch.ensureCombined(spark, a.dir))
        .filter(col("doc_id").isin(scored.map(_.getLong(1)).toSeq: _*))
        .select(col("doc_id").cast("long"), col("caption"), col("lang"),
          col("source"), col("label").cast("long"))
        .collect()
        .map(r => r.getLong(0) -> Hit(r.getLong(0), r.getString(1),
          r.getString(2), r.getString(3), r.getLong(4),
          score(r.getLong(0)))).toMap
    // every ANN hit id must resolve to a combined-table row — a
    // silent flatMap drop would render fewer than k rows with no
    // signal that ids were lost (an index serving ids outside the
    // corpus is a staleness bug worth failing on, not hiding)
    require(meta.size == scored.length,
      s"ANN index returned ${scored.length} ids but only ${meta.size} " +
        s"resolve in the combined table — stale index for ${a.dir}? " +
        s"missing: ${scored.map(_.getLong(1)).filterNot(meta.contains).mkString(",")}")
    val ordered = scored.map(_.getLong(1)).flatMap(meta.get).toSeq
    val desc = s"${a.text.get} [ann $probedLabel]"
    val html = render(desc, a, ordered, genSec, stats)
    val f = new java.io.File(a.out)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(html) finally w.close()
    println(s"file://${f.getAbsolutePath}")
    openInBrowser(a, f)
    println(f"query_time=${qSec}%.3fs generation_time=${genSec}%.3fs " +
      s"read_rows=${stats.rowsRead} read_bytes=${stats.bytesRead} " +
      probedLabel)
  }

  /** `--tokens "w1,w2"`: the hosted full-text tier (t8/t9) exposed as
    * a per-request surface — BM25-ranked retrieval over the persisted
    * posting index with the needle parsed from the CLI (idf comes from
    * the corpus' in-memory term statistics, computed once per corpus
    * version, so any needle on a warm corpus starts only its scoring
    * jobs). Out-of-vocabulary terms contribute zero hits; an
    * all-OOV needle renders an empty result table, not an error. */
  private def tokenSearch(spark: SparkSession, a: Args): Unit = {
    import graft.operators.InvertedIndex
    val needle = a.tokens.get.split(",").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSeq
    require(needle.nonEmpty, usage)
    val genT0 = System.nanoTime()
    val ranked = InvertedIndex.bm25Indexed(spark, a.dir, needle)
    val genSec = (System.nanoTime() - genT0) / 1e9 // index ensure + stats
    // --filter applies BEFORE the top-k cut (ranked is the full
    // needle-matching set, bounded by the needle's posting lists, so
    // filtering then limiting is both correct and cheap); the vector
    // path at the scan and this join-side filter give the same
    // user-visible contract
    val docs = a.filter.fold(
      spark.read.parquet(s"${a.dir}/documents.parquet"))(f =>
      spark.read.parquet(s"${a.dir}/documents.parquet").filter(expr(f)))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val hits = docs
      .join(org.apache.spark.sql.functions.broadcast(ranked), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_terms"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(a.limit)
    val qT0 = System.nanoTime()
    val rows = hits.collect()
    val qSec = (System.nanoTime() - qT0) / 1e9
    val stats = QueryStats.of(hits, qSec)
    val html = render(s"tokens: ${needle.mkString(", ")}", a,
      rows.toSeq.map(r => Hit(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getDouble(5))), genSec, stats)
    val f = new java.io.File(a.out)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(html) finally w.close()
    println(s"file://${f.getAbsolutePath}")
    openInBrowser(a, f)
    println(f"query_time=${qSec}%.3fs generation_time=${genSec}%.3fs " +
      s"read_rows=${stats.rowsRead} read_bytes=${stats.bytesRead}")
  }

  /** `--phrase "w1 w2 ..."`: the positions tier (t11) as a
    * per-request surface — adjacency-exact phrase retrieval over the
    * persisted positional index, ranked by occurrence count. Like
    * --tokens, the needle is a true request parameter (bucket pruning
    * re-derives per phrase); a phrase with any out-of-vocabulary term
    * renders an empty result table, not an error. */
  private def phraseSearchCli(spark: SparkSession, a: Args): Unit = {
    import graft.operators.InvertedIndex
    val terms = a.phrase.get.split("\\s+").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSeq
    require(terms.size >= 2, s"--phrase needs at least two terms\n$usage")
    val genT0 = System.nanoTime()
    val idx = spark.read.parquet(InvertedIndex.ensurePosIndex(spark, a.dir))
    val matches = InvertedIndex.phraseSearch(idx, terms)
    val genSec = (System.nanoTime() - genT0) / 1e9 // index ensure
    val docs = a.filter.fold(
      spark.read.parquet(s"${a.dir}/documents.parquet"))(f =>
      spark.read.parquet(s"${a.dir}/documents.parquet").filter(expr(f)))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val hits = docs
      .join(org.apache.spark.sql.functions.broadcast(matches), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(a.limit)
    val qT0 = System.nanoTime()
    val rows = hits.collect()
    val qSec = (System.nanoTime() - qT0) / 1e9
    val stats = QueryStats.of(hits, qSec)
    val html = render(s"phrase: ${terms.mkString(" ")}", a,
      rows.toSeq.map(r => Hit(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(4).toDouble)), genSec, stats)
    val f = new java.io.File(a.out)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(html) finally w.close()
    println(s"file://${f.getAbsolutePath}")
    openInBrowser(a, f)
  }

  final case class Hit(docId: Long, caption: String, lang: String,
      source: String, label: Long, score: Double)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def render(query: String, a: Args, hits: Seq[Hit],
      genSec: Double, stats: QueryStats): String = {
    val rows = hits.map { h =>
      s"<tr><td>${h.docId}</td><td>${esc(h.caption.take(240))}</td>" +
        s"<td>${esc(h.lang)}</td><td>${esc(h.source)}</td>" +
        s"<td>${h.label}</td><td>${"%.3f".format(h.score)}</td></tr>"
    }.mkString("\n")
    s"""<!doctype html><html lang="en"><head><meta charset="utf-8">
       |<title>graft: results for "${esc(query)}"</title>
       |<style>
       | body { font-family: sans-serif; margin: 2rem auto; max-width: 64rem; }
       | table { border-collapse: collapse; width: 100%; }
       | th, td { border-bottom: 1px solid #ccc; padding: 0.4rem 0.6rem; text-align: left; }
       | .stats { color: #555; font-size: 0.9rem; margin: 0.5rem 0 1.5rem; }
       |</style></head><body>
       |<h2>Results for &ldquo;${esc(query)}&rdquo;</h2>
       |<p class="stats">corpus=${esc(a.dir)} · limit=${a.limit}
       | · filter=${esc(a.filter.getOrElse("none"))}
       | · query ${"%.3f".format(stats.wallSec)}s
       | · embed ${"%.3f".format(genSec)}s
       | · rows read ${stats.rowsRead}
       | · bytes read ${stats.bytesRead}</p>
       |<table><tr><th>doc</th><th>caption</th><th>lang</th>
       |<th>source</th><th>label</th><th>score</th></tr>
       |$rows</table></body></html>""".stripMargin
  }
}
