package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen'd signature expressions for the dedup operators.
  *
  * Both take the materialized per-shingle base-hash array
  * (`array<long>`, see Dedup.docShingleHashes) and collapse it to a
  * signature in ONE generated Java loop nest — primitive arithmetic,
  * no per-element lambda dispatch, no intermediate array allocation
  * per hash function / bit. The higher-order-function formulation
  * (`transform` × `array_min` / `aggregate`) computes the same values
  * but evaluates interpreted, one closure call per (element ×
  * hash-fn/bit) — at 100 TB the generated loop is the difference
  * between scan-bound and eval-bound signature stages.
  *
  * The math is EXACTLY the oracle's (see Dedup.oracles): every
  * operation is overflow-free 64-bit integer arithmetic, identical in
  * Java, Spark expressions, and DuckDB SQL.
  */
object TextHashes {
  /** MinHash universal-hash family: hash_h(v) = (A_h·hi30(v) +
    * B_h·lo30(v) + C_h) mod (2^61−1), coefficients < 2^31 so every
    * product stays within 62 bits. */
  val MinHashFns = 32
  val MinHashP: Long = (1L << 61) - 1
  val Lo30Mask: Long = (1L << 30) - 1
  private def coef(salt: Int): Array[Long] =
    (0 until MinHashFns).map(h =>
      (1103515245L * (h + salt) + 12345L) % 2147483647L).toArray
  val A: Array[Long] = coef(1)
  val B: Array[Long] = coef(101)
  val C: Array[Long] = coef(201)

  /** SimHash width — 60 bits, matching [[textops.hash60]]. */
  val SimHashBits = 60
}

/** array<long> base hashes → array<long> of [[TextHashes.MinHashFns]]
  * MinHash rows: sig[h] = min over elements of the h-th universal hash.
  * Empty input → null (mirrors `array_min` of an empty array). */
case class MinHashSignature(child: Expression) extends UnaryExpression {
  import TextHashes._

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty input yields null

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    val sig = new Array[Long](MinHashFns)
    var h = 0
    while (h < MinHashFns) {
      var m = Long.MaxValue
      var j = 0
      while (j < n) {
        val hv = a.getLong(j)
        val x = (A(h) * (hv >> 30) + B(h) * (hv & Lo30Mask) + C(h)) % MinHashP
        if (x < m) m = x
        j += 1
      }
      sig(h) = m
      h += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val aRef = ctx.addReferenceObj("mhA", A, "long[]")
      val bRef = ctx.addReferenceObj("mhB", B, "long[]")
      val cRef = ctx.addReferenceObj("mhC", C, "long[]")
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val hv = ctx.freshName("hv"); val x = ctx.freshName("x")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $sig = new long[$MinHashFns];
         |  for (int $h = 0; $h < $MinHashFns; $h++) {
         |    long $m = Long.MAX_VALUE;
         |    for (int $j = 0; $j < $n; $j++) {
         |      long $hv = $a.getLong($j);
         |      long $x = ($aRef[$h] * ($hv >> 30) + $bRef[$h] * ($hv & ${Lo30Mask}L)
         |        + $cRef[$h]) % ${MinHashP}L;
         |      if ($x < $m) $m = $x;
         |    }
         |    $sig[$h] = $m;
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<long> base hashes → 60-bit SimHash long: bit b set iff more
  * elements have bit b set than unset. Empty input → 0 (mirrors the
  * zero-accumulator `aggregate` fold). */
case class SimHash60(child: Expression) extends UnaryExpression {
  import TextHashes._

  override def prettyName: String = "simhash60"
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val votes = new Array[Int](SimHashBits)
    var j = 0
    while (j < n) {
      val hv = a.getLong(j)
      var b = 0
      while (b < SimHashBits) {
        if (((hv >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < SimHashBits) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val j = ctx.freshName("j")
      val b = ctx.freshName("b"); val hv = ctx.freshName("hv")
      val votes = ctx.freshName("votes"); val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $votes = new int[$SimHashBits];
         |for (int $j = 0; $j < $n; $j++) {
         |  long $hv = $a.getLong($j);
         |  for (int $b = 0; $b < $SimHashBits; $b++) {
         |    if ((($hv >> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < $SimHashBits; $b++) {
         |  if ($votes[$b] > 0) $out |= 1L << $b;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<string> tokens → array<string> DISTINCT k-word shingles
  * (space-joined, first-occurrence order — the same SET and order as
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * slice(t, i, k))))` and DuckDB's comprehension + `list_distinct`).
  *
  * One pass with a linked hash set instead of: a sequence-array
  * allocation, k-element slice allocations and three lambda dispatches
  * per position, plus array_distinct's second pass. Evaluated once per
  * ROW (CodegenFallback — the loop body is string building, which
  * gains little from codegen; the per-element interpreted-lambda
  * overhead was the cost). */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "word_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<string> tokens → array<long>: hash60 of each DISTINCT k-word
  * shingle, in one native pass — builds each shingle, dedups it, and
  * hashes it without ever materialising the shingle-string array or
  * dispatching an interpreted md5 expression per element. Exactly
  * `transform(word_shingles(t), g -> hash60(g))`: the 60-bit value is
  * the top 60 bits of the md5 digest, which is what parsing the first
  * 15 hex chars yields. */
case class ShingleHash60s(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "shingle_hash60s"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  private val space = UTF8String.fromString(" ")

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[UTF8String]
    val out = new java.util.ArrayList[java.lang.Long]
    val digest = md5.get()
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val sh = UTF8String.concatWs(space, parts: _*)
      if (seen.add(sh)) {
        digest.reset()
        val d = digest.digest(sh.getBytes)
        // top 60 bits of the digest == first 15 hex chars parsed base-16
        val be64 =
          ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
            ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
            ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        out.add(be64 >>> 4)
      }
      i += 1
    }
    val arr = new Array[Long](out.size)
    var z = 0
    while (z < arr.length) { arr(z) = out.get(z); z += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** string → array<long>: hash60 of the length-n character gram at
  * EVERY position — the byte-payload feature map under the m4 stub
  * pHash. Bit-identical to the HOF form it replaces,
  * `transform(sequence(1, greatest(char_len − (n−1), 1)), i ->
  * hash60(substr(x, i, n)))`, including the short-input edges (fewer
  * than n codepoints → ONE gram, the whole string; empty → hash60 of
  * ''), which the DuckDB oracle replays in SQL.
  *
  * Why native: the HOF evaluated its lambda interpretively per
  * position — a UTF8String substring allocation plus a full
  * md5-expression-tree eval per gram — and was the m4 sf1 wall
  * (profiled r19: busy executors sat in UTF8String.substring /
  * TernaryExpression.eval). One pass here: a single codepoint-boundary
  * walk over the raw bytes, then one thread-local MD5 update per gram
  * slice and the digest's top-60-bit extraction ([[ShingleHash60s]]'s
  * idiom) — no per-gram string or tree-eval churn. */
case class GramHash60s(child: Expression, n: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "gram_hash60s"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].getBytes
    // codepoint starts: every byte that is not a UTF-8 continuation
    // byte (10xxxxxx) — substr() counts codepoints, so grams must too
    var k = 0
    var bi = 0
    while (bi < b.length) { if ((b(bi) & 0xc0) != 0x80) k += 1; bi += 1 }
    val starts = new Array[Int](k + 1)
    var ci = 0; bi = 0
    while (bi < b.length) {
      if ((b(bi) & 0xc0) != 0x80) { starts(ci) = bi; ci += 1 }
      bi += 1
    }
    starts(k) = b.length
    val ngrams = math.max(k - (n - 1), 1)
    val out = new Array[Long](ngrams)
    val digest = md5.get()
    var g = 0
    while (g < ngrams) {
      val from = starts(g)
      val to = if (g + n <= k) starts(g + n) else b.length
      digest.reset()
      digest.update(b, from, to - from)
      val d = digest.digest()
      val be64 =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(g) = be64 >>> 4
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<string> → array<struct<big: boolean, bkt: long, pfx: long>>:
  * the hashed-gram feature stream of a token array — one struct per
  * unigram occurrence (big=false, bkt=pfx=hash60(token) mod B) and per
  * bigram occurrence (big=true, bkt=hash60("w1 w2") mod B,
  * pfx=hash60(w1) mod B), unigrams first then bigrams in position
  * order — exactly the declarative
  * `explode(concat(transform(w, …unigram…), transform(sequence(1,
  * size(w)−1), …bigram…)))` tree it replaces in [[graft.operators
  * .Grams.stream]] / Dsir's gram stream / t10's bigram stream
  * (bigramsOnly=true drops the unigram arm).
  *
  * Why native: the HOF form dispatched its lambdas interpretively per
  * gram and paid the md5-HEX-STRING hash60 chain (md5 → 32-char hex →
  * substring → base-16 conv) TWICE per bigram plus a concat_ws
  * allocation. Here each token's digest is computed once (it is the
  * unigram bucket AND every following bigram's prefix bucket), the
  * bigram digest streams w1 + ' ' + w2 through one thread-local MD5
  * with no string build, and the 60-bit value is the digest's top 60
  * bits ([[ShingleHash60s]]'s proven-equal idiom). */
case class GramBuckets(child: Expression, buckets: Int, bigramsOnly: Boolean)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String =
    if (bigramsOnly) "bigram_buckets" else "gram_buckets"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("big", BooleanType, nullable = false),
    StructField("bkt", LongType, nullable = false),
    StructField("pfx", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def top60(d: Array[Byte]): Long = {
    val be64 =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be64 >>> 4
  }

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
    if (n == 0 || (bigramsOnly && n < 2)) return empty
    val digest = md5.get()
    val bytes = new Array[Array[Byte]](n)
    val hu = new Array[Long](n) // per-token bucket, computed ONCE each
    var i = 0
    while (i < n) {
      bytes(i) = toks.getUTF8String(i).getBytes
      digest.reset()
      hu(i) = top60(digest.digest(bytes(i))) % buckets
      i += 1
    }
    val nUni = if (bigramsOnly) 0 else n
    val out = new Array[Any](nUni + math.max(n - 1, 0))
    if (!bigramsOnly) {
      i = 0
      while (i < n) {
        out(i) = org.apache.spark.sql.catalyst.InternalRow(
          false, hu(i), hu(i))
        i += 1
      }
    }
    i = 0
    while (i < n - 1) {
      digest.reset()
      digest.update(bytes(i))
      digest.update(' '.toByte)
      digest.update(bytes(i + 1))
      val hb = top60(digest.digest()) % buckets
      out(nUni + i) = org.apache.spark.sql.catalyst.InternalRow(
        true, hb, hu(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<struct<doc_id: bigint, …>> → array<struct<lo, hi>>: every
  * unordered element pair of a bucket, each pair canonicalized lo/hi
  * by the leading doc_id (ties keep the HOF form's orientation) — the
  * in-bucket pair step of [[graft.operators.Dedup.bucketedPairs]],
  * run on each bucket array [[graft.operators.Dedup.cappedBuckets]]
  * collects.
  *
  * Why native: the declarative form,
  * `flatten(transform(ds, (x, i) => transform(slice(ds, i + 2,
  * size(ds)), y => struct(...))))`, COPIES the tail slice per index
  * (O(occ²) element copies before any pair exists) and evaluates the
  * pair-struct lambda interpretively per pair (HOFs don't
  * whole-stage-codegen). One native pass builds the same pair array
  * directly: copy each struct once, then a two-index loop. The inner
  * struct type is preserved generically, so callers that ride
  * payloads on `n` (d4/m4 carry the simhash) are untouched. */
case class PairExplode(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "pair_explode"

  private def elemType: StructType = child.dataType match {
    case ArrayType(st: StructType, _) => st
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<struct>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lo", elemType, nullable = false),
    StructField("hi", elemType, nullable = false))), containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // containsNull = false only: the eval loop reads every element's
      // leading id unconditionally, so a null element would NPE. Every
      // caller builds the array with collect_list (never-null
      // elements); a SQL user handing a null-holding array literal
      // gets an analysis error instead of a runtime NPE.
      case ArrayType(st: StructType, false)
          if st.nonEmpty && st.head.dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<struct<bigint, ...>> with " +
            s"non-null elements, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val width = elemType.size
    val m = arr.numElements()
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](m)
    var i = 0
    while (i < m) { rows(i) = arr.getStruct(i, width).copy(); i += 1 }
    val out = new Array[Any](m * (m - 1) / 2)
    var p = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        // strict <: equal ids orient exactly like the replaced
        // when(x < y, x).otherwise(y) fold
        val pair =
          if (rows(i).getLong(0) < rows(j).getLong(0))
            org.apache.spark.sql.catalyst.InternalRow(rows(i), rows(j))
          else
            org.apache.spark.sql.catalyst.InternalRow(rows(j), rows(i))
        out(p) = pair
        p += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** string → array<string>: the DISTINCT character n-grams of the
  * input, first-occurrence order — ClickHouse's ngram tokenizer
  * (`ngramSearch`/`ngramDistance` substrate).
  *
  * Exists for the same reason as [[WordShingles]], plus one sharper:
  * the HOF form `transform(sequence(1, length(x) - 3), i ->
  * substr(x, i, 4))` INLINES the child expression into the lambda, so
  * when `x` is a computed value (t6 normalizes with two regex passes)
  * the optimizer re-evaluates it PER GRAM INDEX — O(len) regex passes
  * per row, which measured 18× slower than the raw-column form at
  * sf0.1. A native expression evaluates its child exactly once per
  * row by construction, then one char loop builds the distinct set. */
case class CharGrams(child: Expression, n: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "char_grams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    // Grams are counted in CODEPOINTS (one pass records each
    // codepoint's char offset, so supplementary characters never split
    // surrogate pairs) — matching the `substr(x, i, n)` HOF form this
    // expression replaces on ANY input, not just the ASCII-normalized
    // t6 path. Still O(len) overall: one boundary walk + O(n) slices.
    val s = v.asInstanceOf[UTF8String].toString
    val charLen = s.length
    val starts = new Array[Int](charLen + 1)
    var ci = 0; var k = 0
    while (ci < charLen) {
      starts(k) = ci
      ci += Character.charCount(s.codePointAt(ci))
      k += 1
    }
    starts(k) = charLen
    if (k < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i <= k - n) {
      seen.add(UTF8String.fromString(s.substring(starts(i), starts(i + n))))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** string → string: the whitespace-collapsed, punctuation-stripped,
  * lowercase normal form — ONE native pass replacing the composite
  * `trim(regexp_replace(regexp_replace(lower(x), '[^a-z0-9 ]', ' '),
  * ' +', ' '))` tree ([[graft.functions.textops.normalizeText]]'s
  * former form, still the DuckDB oracle twin).
  *
  * Why native: the composite runs the regex engine over the FULL
  * document twice per row, and normalization sits in front of every
  * fingerprint/gram operator (t4 md5, t6 ngramSearch, t7
  * editDistance) — at sf1 the two regex passes were the dominant cost
  * of all three. One byte scan computes the identical result:
  *  - Unicode lowercase first via `UTF8String.toLowerCase` — the SAME
  *    call Spark's `Lower` makes, so chars whose lowercase form is
  *    ASCII (Kelvin sign K → k) survive exactly as in the regex form;
  *  - then every non-[a-z0-9] BYTE becomes a pending gap. UTF-8
  *    continuation bytes are all ≥ 0x80, so a multi-byte codepoint is
  *    just several consecutive pending bytes — and since the regex
  *    form collapses space runs (` +` → ` `), per-codepoint vs
  *    per-byte gap marking is observationally identical; leading /
  *    trailing gaps are dropped, which is exactly `trim`. */
case class NormalizeText(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "normalize_text"
  override def dataType: DataType = StringType

  // NullType accepted so a bare `normalize_text(NULL)` stays analyzable
  // (as under the composite regex tree this replaces); eval never runs
  // on it — UnaryExpression's null handling short-circuits first
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
    // output never exceeds input: each emitted separator space consumes
    // at least one stripped input byte, kept bytes map one-to-one
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingGap = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingGap && n > 0) { out(n) = ' '; n += 1 }
        pendingGap = false
        out(n) = c
        n += 1
      } else pendingGap = true
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, n))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** SQL registration + Column API, mirroring [[vectors]]. Besides the
  * native signature expressions, the [[textops]] building blocks are
  * registered as composite expression trees so SQL users get the whole
  * text surface: `simhash60(transform(tokenize(text), t -> ...))` etc. */
object texthash {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Lower, Md5, RegExpExtractAll, Substring}

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> { es => MinHashSignature(es.head) },
    "simhash60" -> { es => SimHash60(es.head) },
    "word_shingles" -> { es => WordShingles(es.head, 3) },
    "shingle_hash60s" -> { es => ShingleHash60s(es.head, 3) },
    "char_grams" -> { es => CharGrams(es.head, 4) },
    "gram_hash60s" -> { es => GramHash60s(es.head, 8) },
    // B = 1024 is the shared hashed-gram bucket count (the
    // Grams.Buckets == LmBuckets == Dsir.NumBuckets contract,
    // spec-pinned in GramsSpec)
    "gram_buckets" -> { es => GramBuckets(es.head, 1024, bigramsOnly = false) },
    "bigram_buckets" -> { es => GramBuckets(es.head, 1024, bigramsOnly = true) },
    "pair_explode" -> { es => PairExplode(es.head) },
    // textops twins (same trees the Column API builds)
    "hash60" -> { es =>
      Cast(Conv(Substring(Md5(Cast(es.head, BinaryType)),
        Literal(1), Literal(15)), Literal(16), Literal(10)), LongType) },
    "tokenize" -> { es =>
      RegExpExtractAll(Lower(es.head), Literal("[a-z0-9]+"), Literal(0)) },
    "normalize_text" -> { es => NormalizeText(es.head) },
  )

  def register(spark: SparkSession): Unit = registry.register(spark, builders)

  def minhashSignature(c: Column): Column = call_function("minhash_signature", c)
  def simhash60(c: Column): Column = call_function("simhash60", c)
  def wordShingles(c: Column): Column = call_function("word_shingles", c)
  def shingleHash60s(c: Column): Column = call_function("shingle_hash60s", c)
  def charGrams4(c: Column): Column = call_function("char_grams", c)
  def gramHash60s8(c: Column): Column = call_function("gram_hash60s", c)
  def gramBuckets1024(c: Column): Column = call_function("gram_buckets", c)
  def bigramBuckets1024(c: Column): Column = call_function("bigram_buckets", c)
  def pairExplode(c: Column): Column = call_function("pair_explode", c)
}
