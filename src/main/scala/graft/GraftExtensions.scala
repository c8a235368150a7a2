package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` entry point: installs every graft function
  * (vector distances, text hashing, text statistics, the topk_sketch
  * aggregate) into the session catalog at SESSION BUILD time —
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * — so plain-SQL users (thrift server, spark-sql shell, notebooks
  * that never touch the Scala API) get `l2_distance(...)`,
  * `topk_sketch(...)` etc. without any imperative `register()` call.
  * This is the deployment-grade registration path;
  * the per-object `register()` helpers remain for embedding the
  * library into sessions graft doesn't construct (and are idempotent
  * against this one — both resolve through the same registry, and the
  * builders are shared, so there is exactly one implementation per
  * name either way).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.allBuilders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          GraftExtensions.usages.getOrElse(name,
            s"$name(...) - graft function"), ""), b))
    }
    // ClickHouse PROJECTION auto-selection: a covered raw-events
    // aggregate silently serves from the fresh c9 rollup (c13)
    ext.injectOptimizerRule(graft.plans.RollupProjection.apply)
  }
}

object GraftExtensions {
  private[graft] def allBuilders: Seq[(String, Seq[Expression] => Expression)] =
    functions.vectors.builders ++
      functions.texthash.builders ++
      functions.textstats.builders ++
      functions.topk.builders ++
      functions.heavyhitters.builders ++
      functions.uniqupto.builders ++
      functions.collectupto.builders ++
      functions.thetasketch.builders ++
      functions.tdigest.builders

  /** `DESCRIBE FUNCTION` text for the SQL surface. */
  private[graft] val usages: Map[String, String] = Map(
    "l2_distance" -> "l2_distance(a, b) - Euclidean distance between two numeric arrays.",
    "l2_squared_distance" -> "l2_squared_distance(a, b) - Squared Euclidean distance between two numeric arrays.",
    "dot_product" -> "dot_product(a, b) - Inner product of two numeric arrays.",
    "cosine_distance" -> "cosine_distance(a, b) - 1 minus the cosine similarity of two numeric arrays.",
    "l1_distance" -> "l1_distance(a, b) - Manhattan distance between two numeric arrays.",
    "linf_distance" -> "linf_distance(a, b) - Chebyshev (max-coordinate) distance between two numeric arrays.",
    "l2_norm" -> "l2_norm(a) - Euclidean norm of a numeric array.",
    "l2_normalize" -> "l2_normalize(a) - The array scaled to unit Euclidean norm.",
    "hash60" -> "hash60(s) - Deterministic 60-bit hash of a string (md5-derived, cross-engine reproducible).",
    "tokenize" -> "tokenize(s) - Lowercased [a-z0-9]+ tokens of a string.",
    "normalize_text" -> "normalize_text(s) - Lowercase, strip non-alphanumerics, collapse whitespace.",
    "word_shingles" -> "word_shingles(tokens) - Distinct 3-word shingles of a token array, first-occurrence order.",
    "shingle_hash60s" -> "shingle_hash60s(tokens) - hash60 of each distinct 3-word shingle, without materialising the strings.",
    "minhash_signature" -> "minhash_signature(hash60s) - 32-row MinHash signature over a shingle-hash array.",
    "simhash60" -> "simhash60(hash60s) - 60-bit SimHash bit-vote over a shingle-hash array.",
    "stopword_counts" -> "stopword_counts(tokens, lists) - Occurrences of each stopword list (array of literal string arrays) in a token array.",
    "token_char_sum" -> "token_char_sum(tokens) - Total character count across a token array (NULL if any token is NULL).",
    "topk_sketch" -> "topk_sketch(key, capacity, k) - Space-Saving approximate top-k of BIGINT keys; returns array<struct<item, cnt, err>>, exact when capacity >= distinct keys.",
    "topk_weighted_sketch" -> "topk_weighted_sketch(key, weight, capacity, k) - Space-Saving approximate top-k of BIGINT keys by summed positive BIGINT weight; returns array<struct<item, w, err>>, exact when capacity >= distinct keys.",
    "uniq_upto" -> "uniq_upto(key, n) - Exact distinct count of BIGINT keys while <= n, else n + 1; per-group state bounded at n + 1 keys.",
    "collect_up_to" -> "collect_up_to(x, limit) - collect_list that stops adding at limit elements; per-group state bounded at limit values.",
    "char_grams" -> "char_grams(s) - Distinct character 4-grams of a string, first-occurrence order; child evaluated once per row.",
    "gram_hash60s" -> "gram_hash60s(s) - hash60 of the 8-codepoint gram at every position (one native pass; short inputs yield one whole-string gram).",
    "pair_explode" -> "pair_explode(arr) - Every unordered element pair of an array<struct<bigint, ...>>, each canonicalized lo/hi by the leading id.",
    "two_level_cell" -> "two_level_cell(vec, coarse, offs, cnts, fine, stride) - Coarse-then-fine nearest-centroid cell id (rank * stride + fid); book arguments must be constant arrays.",
    "sign_bucket_probe" -> "sign_bucket_probe(vec, planes, plane_count) - Random-hyperplane LSH bucket with a multi-probe hint: sign-bit bucket in the low 32 bits, the min-|margin| single-bit-flip bucket in the high 32; planes must be a constant flat array (plane_count x dim).",
    "near_pair_explode" -> "near_pair_explode(bucket, max_distance) - Every unordered pair of an array<struct<id, vec>> bucket with cosine distance <= max_distance, as array<struct<vec_a, vec_b, score>>; the fused in-bucket verify of the embedding dedup family.",
    "theta_sketch" -> "theta_sketch(key, k) - KMV distinct sketch of BIGINT keys: the k smallest distinct values as a sorted array<bigint>; exact set algebra below capacity, (k-1)/u_k estimation above.")
}
