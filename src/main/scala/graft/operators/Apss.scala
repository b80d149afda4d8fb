package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** All-pairs similarity search over sparse TF-IDF vectors (the Bayardo
  * et al. WWW'07 problem): for every document, the top-k most
  * cosine-similar others — the "related documents" / lexical near-dup
  * ranking a retrieval or dedup pipeline runs beside BM25 (q99 is
  * query-driven; this is corpus-driven).
  *
  * Vector space: word n-gram shingles as dimensions (selective where
  * single words are not), weight = tf · idfMicro with the LINEAR idf of
  * q81 (idfMicro = round(1e6/df)) — INTEGER weights, so dot products
  * and squared norms are exact long arithmetic and cross-engine
  * bit-stable; doubles appear only in the final
  * dot / (√n2a · √n2b), a fixed three-operation IEEE expression the
  * oracle replays verbatim (sqrt is correctly rounded — identical).
  *
  * Scale shape: one inverted-index self-join on the shingle dimension —
  * cost Σ_s df(s)² contribution rows, the posting-list-join bound every
  * APSS system starts from; pairs aggregate map-side on (a, b), and the
  * top-k is a per-doc window over the doc's own candidates (candidates
  * = docs sharing ≥1 shingle, so the top-k is EXACT — cosine > 0
  * requires a shared dimension). At production vocabularies Zipfian
  * postings keep df² sums near-linear; the Bayardo prefix filter (drop
  * each vector's heaviest dimensions from the index side, bounded by
  * the threshold) and a df-cap on stop-shingles are the documented
  * escalations when they do not — both prune candidates only, the
  * verify arithmetic is unchanged. Overflow bounds: w ≤ tf·1e6, so a
  * dot term fits a long to tf ~3e3 and the summed dot to ~200 shared
  * dimensions beyond that (ANSI-checked, not silent).
  */
object Apss {

  /** Top-`k` cosine neighbours per document over n-gram TF-IDF vectors.
    * Output: (doc_id, sim_rank, sim_id, cosine) — rank 1..k by
    * (cosine DESC, sim_id ASC), cosine rounded 6dp at the edge only.
    *
    * Dimensions travel as 64-bit window hashes, not gram strings
    * ([[graft.functions.expr.ShingleOps.shingleWindowHashes]]): the
    * n-gram is concatenated, hashed, and dropped in one compiled pass —
    * replacing the interpreted `transform(sequence(...), i ->
    * concat_ws(...))` CodegenFallback HOF — and every downstream
    * exchange/join keys on 8 bytes instead of a ~25-byte string (§2.3
    * "shuffle keys, not n-gram strings" — the same hashed-dimension
    * contract as [[Dedup.ngramJaccardPairs]]'s inverted index; the hash
    * never enters the arithmetic, only equality).
    *
    * Collision bound: two distinct grams sharing a 64-bit key merge into
    * one dimension (summed tf, one df), which the string-keyed oracle
    * would not. For n distinct grams the birthday bound puts the expected
    * number of colliding pairs at n(n-1)/2 / 2^64 ≈ n²/2^65: 2.7e-4 at
    * 10^8 grams, 0.027 at 10^9, and about even odds of at least one
    * collision near 5×10^9. The sf0.1 corpus holds n = 27,213 distinct
    * trigrams (DuckDB count over `documents`), 2.0e-11 expected pairs; a
    * corpus past ~10^9 distinct grams should key on 128 bits.
    */
  def tfidfCosineTopK(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, k: Int = 3): DataFrame = {
    // docs with < n tokens carry no dimension and drop here
    val tf = ScaleOut(docs.select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__t")))
      .filter(size(col("__t")) >= n)
      .select(col("id"), explode(
        graft.functions.expr.ShingleFunctions.shingleWindowHashes(col("__t"), n))
        .as("sh"))
      // tokens() never yields null elements, so null window hashes cannot
      // occur — the filter only pins that invariant against future callers
      .filter(col("sh").isNotNull)
      .groupBy("id", "sh").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("sh").agg(count(lit(1)).as("df"))
    // three consumers (norms + both sides of the dot join) — pin so the
    // tokenize/explode/tf chain runs once (CacheScope lifetime)
    val w = CacheScope.pin(
      tf.join(dfreq, "sh")
        .select(col("id"), col("sh"),
          (col("tf") * round(lit(1000000.0) / col("df")).cast("long")).as("w")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy("id").agg(sum(col("w") * col("w")).as("n2"))
    // the union below consumes dot twice (both orientations) — pin so
    // the Σdf² contribution join runs once, not per branch
    val dot = CacheScope.pin(
      w.as("a").join(w.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("ia"), col("b.id").as("ib"))
        .agg(sum(col("a.w") * col("b.w")).as("dot")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = dot.unionByName(
      dot.select(col("ib").as("ia"), col("ia").as("ib"), col("dot")))
    val cos = sym
      .join(norms.select(col("id").as("ia"), col("n2").as("n2a")), "ia")
      .join(norms.select(col("id").as("ib"), col("n2").as("n2b")), "ib")
      .select(col("ia"), col("ib"),
        (col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double")))).as("c"))
    val rn = Window.partitionBy(col("ia")).orderBy(col("c").desc, col("ib").asc)
    cos.withColumn("sim_rank", row_number().over(rn).cast("long"))
      .filter(col("sim_rank") <= k)
      .select(col("ia").as(idCol), col("sim_rank"), col("ib").as("sim_id"),
        round(col("c"), 6).as("cosine"))
  }
}
