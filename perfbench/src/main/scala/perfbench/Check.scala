package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** One corpus row as the checks see it: the document joined to its
  * vector (the combined table's row), or a vector without a document. */
final case class Item(id: Long, label: Int, lang: String, vec: Array[Float])

/** The benchmark's own answers, computed on the driver from the corpus
  * rows it holds, independent of every engine layout. */
final class Reference {
  val items = ArrayBuffer.empty[Item]
  val byId = scala.collection.mutable.HashMap.empty[Long, Item]
  val docTokens = ArrayBuffer.empty[(Long, Array[String])]

  def add(it: Item): Unit = { items += it; byId(it.id) = it }
  def addDoc(id: Long, text: String): Unit = docTokens += (id -> Reference.tokens(text))

  /** True L2 distance, in double over the float components. */
  def l2(v: Array[Float], q: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val d = v(i).toDouble - q(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Top-k (id, distance) among rows passing `keep`, ties on id.
    * `withDoc` restricts to vectors that have a document (the rows of
    * the combined table). */
  def topK(q: Seq[Double], k: Int, withDoc: Boolean,
           keep: Item => Boolean = _ => true): Seq[(Long, Double)] =
    items.iterator.filter(it => (!withDoc || it.lang != null) && keep(it))
      .map(it => (it.id, l2(it.vec, q))).toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** BM25 score of every matching document, with the engine's
    * documented scoring (idf = ln(1 + (N − df + 0.5)/(df + 0.5)), score
    * rounded half-up to 4 places), best first, ties on doc_id. */
  def bm25(needle: Seq[String], k1: Double, b: Double): Seq[(Long, Double)] = {
    val n = docTokens.size
    val avgdl = docTokens.iterator.map(_._2.length.toLong).sum.toDouble / n
    val tfs = docTokens.iterator.map { case (id, toks) =>
      (id, toks.length, needle.map(t => toks.count(_ == t)))
    }.toSeq
    val idf = needle.indices.map { i =>
      val df = tfs.count(_._3(i) > 0)
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }
    tfs.filter(_._3.exists(_ > 0)).map { case (id, dl, tf) =>
      val s = tf.indices.filter(tf(_) > 0).map { i =>
        idf(i) * (tf(i) * (k1 + 1.0)) / (tf(i) + k1 * (1.0 - b + b * dl / avgdl))
      }.sum
      (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }
  }
}

object Reference {
  /** Lower-cased maximal [a-z0-9] runs — the engine's tokenizer. */
  def tokens(text: String): Array[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toArray

  /** Reads the reference file the launcher writes from the corpus
    * tables (read with a parquet library, not with the engine): one
    * line per document, `d <tab> id <tab> lang <tab> text`, and per
    * vector, `v <tab> id <tab> label <tab> comma-separated components`. */
  def load(path: String): Reference = {
    val docs = ArrayBuffer.empty[(Long, String, String)]
    val vecs = ArrayBuffer.empty[(Long, Int, Array[Float])]
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().foreach { line =>
      val f = line.split("\\t", -1)
      f(0) match {
        case "d" => docs += ((f(1).toLong, f(2), f(3)))
        case "v" => vecs += ((f(1).toLong, f(2).toInt, f(3).split(',').map(_.toDouble.toFloat)))
        case other => sys.error(s"reference line kind $other")
      }
    } finally src.close()
    val ref = new Reference
    val lang = docs.iterator.map(x => x._1 -> x._2).toMap
    vecs.foreach { case (id, label, v) => ref.add(Item(id, label, lang.getOrElse(id, null), v)) }
    docs.foreach(x => ref.addDoc(x._1, x._3))
    ref
  }
}

/** Verdict helpers: every check returns None when the answer is right,
  * or a one-line reason. */
object Verdict {
  private def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * (1.0 + math.abs(b))

  /** A ranked answer is right when it has the expected length, holds no
    * duplicate, reports each row's true score, and matches the expected
    * score at every rank (ids may differ only between tied scores). */
  def ranked(what: String, got: Seq[(Long, Double)], exp: Seq[(Long, Double)],
             truth: Long => Option[Double], tol: Double): Option[String] =
    if (got.size != exp.size) Some(s"$what: ${got.size} rows, expected ${exp.size}")
    else if (got.map(_._1).distinct.size != got.size) Some(s"$what: duplicate ids")
    else got.zip(exp).zipWithIndex.collectFirst {
      case (((gid, gs), (eid, es)), i) if !close(gs, es, tol) =>
        s"$what: rank ${i + 1} score $gs (id $gid), expected $es (id $eid)"
      case (((gid, gs), _), i) if !truth(gid).exists(close(gs, _, tol)) =>
        s"$what: rank ${i + 1} id $gid reports $gs, true ${truth(gid).getOrElse("absent")}"
    }
}

/** Order-independent digest of a frame's rows: row count and the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Floating
  * values are canonicalized to 9 significant digits, well inside the
  * 1e-9 relative tolerance the DuckDB parity compare allows. */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += rowHash(it.next(), schema); n += 1 }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  def hex(d: (Long, Long)): String = f"${d._1}%d:${d._2}%016x"

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  private def num(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb ++= d.toString
    else if (d == 0.0) sb ++= "0"
    else sb ++= String.format(java.util.Locale.ROOT, "%.8e", java.lang.Double.valueOf(d))

  def rowHash(r: InternalRow, schema: StructType): Long = {
    val sb = new StringBuilder
    schema.fields.indices.foreach { i =>
      canon(if (r.isNullAt(i)) null else r.get(i, schema(i).dataType),
        schema(i).dataType, sb)
      sb += '\u0001'
    }
    hash64(sb.toString)
  }

  private def canon(v: Any, t: DataType, sb: StringBuilder): Unit =
    if (v == null) sb ++= "\u0000"
    else t match {
      case DoubleType => num(v.asInstanceOf[Double], sb)
      case FloatType => num(v.asInstanceOf[Float].toDouble, sb)
      case BinaryType => sb ++= v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb += '['
        (0 until a.numElements()).foreach { i =>
          canon(if (a.isNullAt(i)) null else a.get(i, et), et, sb); sb += ','
        }
        sb += ']'
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        val entries = (0 until m.numElements()).map { i =>
          val e = new StringBuilder
          canon(ks.get(i, kt), kt, e); e += '='
          canon(if (vs.isNullAt(i)) null else vs.get(i, vt), vt, e)
          e.toString
        }.sorted
        sb ++= entries.mkString("{", ",", "}")
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb += '('
        st.fields.indices.foreach { i =>
          canon(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType, sb)
          sb += ','
        }
        sb += ')'
      case _ => sb ++= v.toString
    }
}
