package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.textops

/** Training-data multimodal plumbing (SURVEY §2, m1–m3).
  *
  * Models the reference's wide LAION row — opaque payload bytes plus
  * typed metadata (`process.py` carries width/height/exif beside the
  * embedding) — as Spark columns: payload is `binary`, metadata is a
  * typed struct, and "decode" is a clearly-marked deterministic STUB
  * (no image libs in this environment). What is real and load-bearing
  * for 100 TB: the schema (binary + struct), the per-partition batch
  * decode path ([[decodeImages]] — the Scala twin of a
  * `mapInPandas` decode), and the fact that metadata extraction is pure
  * codegen'd column work that never materialises the payload twice.
  */
object Multimodal {

  /** Typed metadata the "decoder" yields. */
  case class ImageMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
    channels: Int, format: String)

  /** Scala twin of [[textops.hash60]] (md5 hex prefix → 60-bit long)
    * for use outside the expression tree. */
  private def hash60(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)

  /** The decode seam: one interface, two implementations. The gates
    * run [[StubDecoder]] (deterministic, oracle-replayable — the
    * corpus ships text payloads, not image bytes); a real pipeline
    * flips `spark.graft.multimodal.decoder=imageio` and the SAME
    * partition-batched plumbing decodes real bytes (unit-tested with
    * in-memory PNG/JPEG in ImageIoDecodeSpec). */
  trait ImageDecoder extends Serializable {
    def decode(docId: Long, payload: Array[Byte]): ImageMeta
  }

  /** STUB decode: derives deterministic fake dimensions from
    * hash60(payload‖suffix) — the SAME formulas as [[binaryMeta]]'s
    * expression path, so the two paths agree bit for bit (unit-tested). */
  object StubDecoder extends ImageDecoder {
    def decode(docId: Long, payload: Array[Byte]): ImageMeta = {
      val text = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      ImageMeta(docId, payload.length,
        width = (64 + hash60(text + "|w") % 1856).toInt,
        height = (64 + hash60(text + "|h") % 1016).toInt,
        channels = (1 + hash60(text + "|c") % 4).toInt,
        format = if (docId % 3 == 0) "png" else if (docId % 3 == 1) "jpeg" else "webp")
    }
  }

  /** REAL decode via `javax.imageio` (in the JDK — no external libs):
    * width/height/channels from the decoded raster, format from the
    * matching reader's name. Fails loudly on undecodable bytes — a
    * silent fake would poison dedup downstream. */
  object ImageIoDecoder extends ImageDecoder {
    def decode(docId: Long, payload: Array[Byte]): ImageMeta = {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        require(readers.hasNext, s"doc $docId: no image reader for payload")
        val reader = readers.next()
        reader.setInput(in)
        try {
          val img = reader.read(0)
          ImageMeta(docId, payload.length, img.getWidth, img.getHeight,
            channels = img.getColorModel.getNumComponents,
            format = reader.getFormatName.toLowerCase)
        } finally reader.dispose()
      } finally in.close()
    }
  }

  /** Stub kept under its round-11 name for the equivalence test. */
  private[operators] def decodeOne(docId: Long, payload: Array[Byte]): ImageMeta =
    StubDecoder.decode(docId, payload)

  def decoderFor(name: String): ImageDecoder = name match {
    case "imageio" => ImageIoDecoder
    case _ => StubDecoder
  }

  /** Batch decode over (doc_id, payload) rows — one decoder instance
    * per partition, rows streamed through it (the mapInPandas shape:
    * amortised per-batch setup, no per-row driver involvement). The
    * decoder defaults to the session conf
    * `spark.graft.multimodal.decoder` (stub | imageio). */
  def decodeImages(payloads: Dataset[(Long, Array[Byte])],
      decoder: ImageDecoder = null): Dataset[ImageMeta] = {
    import payloads.sparkSession.implicits._
    val dec = Option(decoder).getOrElse(decoderFor(
      payloads.sparkSession.conf.get("spark.graft.multimodal.decoder", "stub")))
    payloads.mapPartitions { it =>
      // per-partition decoder setup would go here (model load, etc.)
      it.map { case (id, bytes) => dec.decode(id, bytes) }
    }
  }

  /** REAL perceptual hash: the classic DCT pHash over a decoded image
    * — 32×32 luminance downsample, 2-D DCT-II, the first 60 AC
    * coefficients (zig-free row-major of the top-left 8×8, DC and the
    * 3 highest dropped to fit the 60-bit chunk split) thresholded at
    * their median. Produces the same `(doc_id, ph)` shape as the stub
    * [[phash]], so [[phashPairsFrom]] runs the identical capped-bucket
    * dedup physics over real image features. */
  def phashOfImage(img: java.awt.image.BufferedImage): Long = {
    val N = 32
    val scaled = new java.awt.image.BufferedImage(N, N,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = scaled.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, N, N, null)
    } finally g.dispose()
    val lum = new Array[Double](N * N)
    var y = 0
    while (y < N) {
      var x = 0
      while (x < N) {
        val rgb = scaled.getRGB(x, y)
        lum(y * N + x) = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    // first 8×8 block of the 2-D DCT-II (separable; cos table reused)
    val cosT = Array.tabulate(8, N)((u, i) =>
      math.cos((2 * i + 1) * u * math.Pi / (2 * N)))
    val co = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var yy = 0
        while (yy < N) {
          var xx = 0
          while (xx < N) {
            s += lum(yy * N + xx) * cosT(u)(xx) * cosT(v)(yy)
            xx += 1
          }
          yy += 1
        }
        co(v * 8 + u) = s
        v += 1
      }
      u += 1
    }
    val ac = co.drop(1).take(60) // 60 AC coefficients
    val med = ac.sorted.apply(30)
    var ph = 0L
    var i = 0
    while (i < 60) {
      if (ac(i) > med) ph |= 1L << i
      i += 1
    }
    ph
  }

  /** Real-decoder pHash over payload bytes, partition-batched like
    * [[decodeImages]]. */
  def phashImages(payloads: Dataset[(Long, Array[Byte])]): DataFrame = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"doc $id: undecodable payload")
        (id, phashOfImage(img))
      }
    }.toDF("doc_id", "ph")
  }

  /** m1: binary payload + typed metadata extraction, all-expression
    * form (the driver-gated, oracle-checked path). The payload is the
    * utf-8 bytes of the text (a stand-in for image bytes); metadata is
    * hash-derived via [[textops.hash60]] with the SAME formulas as
    * [[decodeOne]], so DuckDB reproduces it and the mapPartitions
    * decode path yields identical rows (unit-tested). */
  def binaryMeta(docs: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    docs
      .select(col("doc_id"), payload.as("payload"))
      .withColumn("meta", struct(
        length(col("payload")).as("n_bytes"),
        (lit(64) + textops.hash60(concat(col("payload").cast("string"), lit("|w"))) % 1856).as("width"),
        (lit(64) + textops.hash60(concat(col("payload").cast("string"), lit("|h"))) % 1016).as("height"),
        (lit(1) + textops.hash60(concat(col("payload").cast("string"), lit("|c"))) % 4).as("channels"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg")
          .otherwise("webp").as("format")))
      .select(col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.channels").as("channels"),
        col("meta.format").as("format"))
      .orderBy(col("doc_id"))
  }

  def m1Query(s: SparkSession, d: String): DataFrame =
    binaryMeta(Tables.documents(s, d))

  /** Resize target: longest side capped at this, aspect preserved. */
  val ResizeMax = 256

  /** m2: resize planning — the pure-metadata half of an image resize
    * (the pixel work is the stubbed decode's concern; the SHAPE math —
    * aspect-preserving integer scaling, which partition the work rides
    * in, the output schema — is engine-side and exact). Downscale only:
    * images already within bounds pass through. Integer arithmetic
    * (`new_w = w·256 div longest`) so both engines agree bit-for-bit. */
  def resizePlan(docs: DataFrame): DataFrame =
    binaryMeta(docs)
      .select(col("doc_id"), col("width"), col("height"))
      .withColumn("longest", greatest(col("width"), col("height")))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("longest") <= ResizeMax, col("width"))
          .otherwise(expr(s"(width * $ResizeMax) div longest")).as("new_w"),
        when(col("longest") <= ResizeMax, col("height"))
          .otherwise(expr(s"(height * $ResizeMax) div longest")).as("new_h"))
      .orderBy(col("doc_id"))

  def m2Query(s: SparkSession, d: String): DataFrame =
    resizePlan(Tables.documents(s, d))

  /** Frame-sampling stride (every Nth frame of the fake "video"). */
  val FrameStride = 30

  /** m3: frame sampling — treat the payload as an opaque video whose
    * frame count derives from the content hash (stub, like m1's
    * decode), emit one row per sampled frame index. The plumbing that
    * matters at 100 TB is real: a generator (explode of a computed
    * `sequence`) that multiplies rows WITHOUT materialising frames,
    * keyed so downstream per-frame decode work partitions evenly. */
  def frameSample(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        (lit(1) + textops.hash60(concat(col("text"), lit("|frames"))) % 300)
          .as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1,
          lit(FrameStride))).as("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))

  def m3Query(s: SparkSession, d: String): DataFrame =
    frameSample(Tables.documents(s, d))

  // ---------------------------------------------------------------- m5

  /** Audio framing constants — the standard speech-pipeline window:
    * 25 ms frames, 10 ms hop at 16 kHz. */
  val SampleRate = 16000
  val FrameLen = 400
  val Hop = 160

  /** Typed metadata the audio "decoder" yields. */
  case class AudioMeta(doc_id: Long, n_samples: Int, sample_rate: Int)

  /** The audio decode seam — m1's [[ImageDecoder]] discipline for the
    * third modality: the gate runs the deterministic stub (the corpus
    * ships text payloads, not PCM); a real pipeline drops an FFmpeg/
    * javasound implementation behind the same interface and the SAME
    * partition-batched plumbing decodes real bytes. */
  trait AudioDecoder extends Serializable {
    def decode(docId: Long, payload: Array[Byte]): AudioMeta
  }

  /** STUB decode: deterministic fake duration from hash60(payload‖ns)
    * — the same formula as [[audioFrames]]'s expression path, so the
    * two paths agree bit for bit (spec-pinned). 0.25–2 s at 16 kHz. */
  object StubAudioDecoder extends AudioDecoder {
    def decode(docId: Long, payload: Array[Byte]): AudioMeta = {
      val text = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      AudioMeta(docId,
        n_samples = (4000 + hash60(text + "|ns") % 28000).toInt,
        sample_rate = SampleRate)
    }
  }

  /** REAL decode via `javax.sound.sampled` (in the JDK — no external
    * libs): frame count and sample rate from the parsed container
    * (WAV/AIFF/AU out of the box; an FFmpeg-backed implementation
    * widens the format set behind the same interface). Fails loudly
    * on undecodable bytes — the [[ImageIoDecoder]] discipline. */
  object JavaSoundDecoder extends AudioDecoder {
    def decode(docId: Long, payload: Array[Byte]): AudioMeta = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val n = in.getFrameLength
        require(n >= 0 && n <= Int.MaxValue,
          s"doc $docId: container reports no usable frame length ($n)")
        AudioMeta(docId, n.toInt, fmt.getSampleRate.toInt)
      } finally in.close()
    }
  }

  /** Partition-batched audio decode — [[decodeImages]]' twin. */
  def decodeAudio(payloads: Dataset[(Long, Array[Byte])],
      decoder: AudioDecoder = StubAudioDecoder): Dataset[AudioMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { case (id, bytes) => decoder.decode(id, bytes) }
    }
  }

  /** m5: audio feature extraction — framing + per-frame energy +
    * per-doc fold. What is REAL and load-bearing at 100 TB: the
    * librosa-standard frame count `(n_samples − FrameLen) div Hop + 1`,
    * the generator explode that multiplies to per-frame rows WITHOUT
    * materialising samples, the per-frame feature hook, and the
    * partial-aggregable fold back to one row per doc (so the gate's
    * output is corpus-bounded, not frame-bounded). The frame RMS
    * itself is the stubbed step (hash-derived in [0,1) — no audio
    * libs here); a real pipeline computes it from the decoded window
    * behind the same seam. `n_hot` (frames above [[HotRms]]) is the
    * voice-activity-detection shape of the fold. */
  val HotRms = 0.8

  def audioFrames(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        (lit(4000) +
          textops.hash60(concat(col("text"), lit("|ns"))) % 28000)
          .cast("int").as("n_samples"))
      .withColumn("n_frames",
        (expr(s"(n_samples - $FrameLen) div $Hop") + lit(1)).cast("int"))
      .select(col("doc_id"), col("n_samples"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("f"))
      // stub frame energy in EXACT integer 1e-4 units (rms = rms_1e4 /
      // 1e4): per-frame values are grid multiples, so a float mean can
      // land exactly on the round-4 tie boundary where engines split —
      // the q40/q63 lesson says keep the fold integral and let the
      // caller divide
      .withColumn("rms_1e4",
        textops.hash60(concat_ws("", col("doc_id").cast("string"),
          lit("|f"), col("f").cast("string"))) % 10000)

  def audioEnergy(docs: DataFrame): DataFrame =
    audioFrames(docs)
      .groupBy(col("doc_id"))
      .agg(first(col("n_samples")).as("n_samples"),
        first(col("n_frames")).as("n_frames"),
        sum(col("rms_1e4")).as("rms_sum_1e4"),
        sum(when(col("rms_1e4") > lit((HotRms * 10000).toLong), 1L)
          .otherwise(0L)).as("n_hot"))
      .orderBy(col("doc_id"))

  def m5Query(s: SparkSession, d: String): DataFrame =
    audioEnergy(Tables.documents(s, d))

  // ---------------------------------------------------------------- m4

  /** Bucket-occupancy cap for pHash chunk buckets — same skew rationale
    * as [[Dedup.MaxChunkBucket]]: low-entropy payload regions
    * (boilerplate headers, solid-color images) must not degenerate a
    * chunk bucket to all-pairs. */
  val MaxPhashBucket = 200

  /** Perceptual hash of the binary payload — the pHash STUB: SimHash
    * over byte 8-grams (the byte-level analog of pixel-block pHash:
    * near-identical payloads vote near-identical bits, so hamming
    * distance tracks payload similarity — which a raw content hash
    * deliberately destroys). A real deployment swaps the byte-gram
    * base for DCT-block features out of the actual decoder; the
    * 60-bit hash, chunk split, and candidate physics are unchanged.
    * All expression work (the native one-pass
    * [[graft.functions.GramHash60s]] feature map — bit-identical to
    * the hash60-per-substr HOF it replaced, which evaluated its
    * lambda interpretively per position and was the m4 sf1 wall —
    * then the codegen'd [[graft.functions.SimHash60]] bit-vote) — no
    * UDFs. */
  def phash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      coalesce(graft.functions.texthash.simhash60(
        graft.functions.texthash.gramHash60s8(col("text"))), lit(0L)).as("ph"))

  /** m4: payload near-dup — image-dedup physics over the multimodal
    * binary column. The d4 pigeonhole: split the 60-bit pHash into 4
    * chunks of 15 bits; any pair within hamming 3 shares an exact
    * chunk, so pairing inside (chunk, value) buckets finds every such
    * pair with NO all-pairs comparison; wider radii (the 12 here)
    * trade recall exactly as published. Candidate generation is the
    * shared [[Dedup.bucketedPairs]] over [[Dedup.cappedBuckets]]
    * (one bounded collect per chunk bucket) — the pHash rides
    * the posting row as `n`, so the pair row's na/nb ARE the two
    * hashes and verification is one `bit_count(xor)` with no join
    * back. At 100 TB this is the image near-dup pass every multimodal
    * training pipeline runs; cost is Σ capped-bucket² — never n². */
  def phashPairs(docs: DataFrame, maxHamming: Int = 12): DataFrame =
    phashPairsFrom(phash(docs), maxHamming)

  /** The dedup physics, decoupled from the hash source: takes ANY
    * `(doc_id, ph)` table — the stub byte-gram SimHash (gate) or the
    * real DCT pHash from [[phashImages]] — through the identical
    * chunk split + capped bucket step + xor verify. */
  def phashPairsFrom(hashes: DataFrame, maxHamming: Int = 12): DataFrame = {
    val chunks = hashes
      .select(col("doc_id"), col("ph").as("n"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("ck", expr("shiftright(n, c * 15) & 32767"))
    Dedup.bucketedPairs(chunks, Seq("c", "ck"), MaxPhashBucket)
      .withColumn("hamming", expr("CAST(bit_count(na ^ nb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def m4Query(s: SparkSession, d: String): DataFrame =
    phashPairs(Tables.documents(s, d))

  val oracles: Map[String, String] = Map(
    // m5 replays the stub duration, the librosa frame-count formula,
    // the per-frame hash RMS and the per-doc fold
    "m5_audio_energy" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    (4000 + ${textops.hash60Sql("text || '|ns'")} % 28000)::INTEGER
         |      AS n_samples
         |  FROM documents),
         |fr AS (
         |  SELECT doc_id, n_samples,
         |    ((n_samples - $FrameLen) // $Hop + 1)::INTEGER AS n_frames
         |  FROM base),
         |r AS (
         |  SELECT doc_id, n_samples, n_frames,
         |    ${textops.hash60Sql(
               "CAST(doc_id AS VARCHAR) || '|f' || CAST(f AS VARCHAR)")}
         |      % 10000 AS rms_1e4
         |  FROM fr, unnest(generate_series(0, n_frames - 1)) AS t(f))
         |SELECT doc_id, any_value(n_samples) AS n_samples,
         |  any_value(n_frames) AS n_frames,
         |  CAST(sum(rms_1e4) AS BIGINT) AS rms_sum_1e4,
         |  CAST(sum(CASE WHEN rms_1e4 > ${(HotRms * 10000).toLong}
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // m4 replays the byte-gram SimHash, chunk split, occupancy cap and
    // hamming verify (the d4 oracle pattern over payload 8-grams)
    "m4_phash_neardup" ->
      s"""WITH g AS (SELECT doc_id, text,
         |       unnest(range(1, greatest(length(text) - 6, 2))) AS i
         |     FROM documents),
         |hx AS (SELECT doc_id,
         |         ${textops.hash60Sql("substr(text, i::INTEGER, 8)")} AS th
         |       FROM g),
         |bits AS (SELECT doc_id, b,
         |           sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |         FROM hx CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
         |         GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS p
         |       FROM bits GROUP BY 1),
         |chunks AS (SELECT doc_id, p, c, (p >> (c * 15)) & 32767 AS ck
         |           FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
         |sized AS (SELECT *, count(*) OVER (PARTITION BY c, ck) AS bn FROM chunks),
         |keep AS (SELECT * FROM sized WHERE bn <= $MaxPhashBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.p AS pa, b.p AS pb
         |         FROM keep a JOIN keep b
         |           ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(pa, pb))::INTEGER AS hamming
         |FROM cand WHERE bit_count(xor(pa, pb)) <= 12
         |ORDER BY 1, 2""".stripMargin,
    "m1_binary_meta" ->
      s"""SELECT doc_id,
         |  octet_length(text::BLOB)::INTEGER AS n_bytes,
         |  64 + ${textops.hash60Sql("text || '|w'")} % 1856 AS width,
         |  64 + ${textops.hash60Sql("text || '|h'")} % 1016 AS height,
         |  1 + ${textops.hash60Sql("text || '|c'")} % 4 AS channels,
         |  CASE WHEN doc_id % 3 = 0 THEN 'png'
         |       WHEN doc_id % 3 = 1 THEN 'jpeg'
         |       ELSE 'webp' END AS format
         |FROM documents ORDER BY doc_id""".stripMargin,
    "m2_resize" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    64 + ${textops.hash60Sql("text || '|w'")} % 1856 AS width,
         |    64 + ${textops.hash60Sql("text || '|h'")} % 1016 AS height
         |  FROM documents),
         |g AS (SELECT *, greatest(width, height) AS longest FROM m)
         |SELECT doc_id, width, height,
         |  CASE WHEN longest <= $ResizeMax THEN width
         |       ELSE (width * $ResizeMax) // longest END AS new_w,
         |  CASE WHEN longest <= $ResizeMax THEN height
         |       ELSE (height * $ResizeMax) // longest END AS new_h
         |FROM g ORDER BY doc_id""".stripMargin,
    "m3_frame_sample" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    1 + ${textops.hash60Sql("text || '|frames'")} % 300 AS n_frames
         |  FROM documents)
         |SELECT doc_id, n_frames, unnest(range(0, n_frames, $FrameStride)) AS frame_idx
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
