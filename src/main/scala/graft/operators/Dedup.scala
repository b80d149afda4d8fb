package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions._
import graft.functions.expr.HashFunctions._
import graft.functions.expr.VectorFunctions.{cosineSim, nearestCells}
import graft.sources.Segments

/** Deduplication operators for the documents pipeline, each designed for
  * the 100 TB shape:
  *
  *   - exact: hash-groupBy — one shuffle keyed by a 128-bit digest, never
  *     by the full text;
  *   - MinHash+LSH: shingle -> k-minhash signature -> band buckets ->
  *     bucket-local candidate join -> exact-Jaccard verification. Only
  *     bucket collisions are ever paired, so cost is ~linear in corpus
  *     size for bounded bucket sizes (vs O(n²) all-pairs);
  *   - SimHash: 64-bit sketch, banded by pigeonhole for a Hamming radius;
  *   - exact n-gram Jaccard: inverted shingle index join — the ground
  *     truth the sketch methods are verified against;
  *   - embedding cosine: exact all-pairs (small SF / ground truth) and a
  *     random-hyperplane-bucketed variant (scale path).
  */
object Dedup {

  /** Exact dedup: first (min-id) document per identical normalized text.
    * Grouping key is the md5 digest, not the text — the shuffle moves 16
    * bytes + id per row.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), contentFingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: dedupe a NEW increment against itself and
    * an existing corpus — the daily-ingest shape. At 100 TB, re-running
    * [[exactGroups]] over corpus+increment re-shuffles petabytes to
    * dedupe gigabytes; here the corpus participates only as its
    * FINGERPRINT SET (16 bytes/doc — a maintained index table, e.g. the
    * `fingerprint` column this operator returns, appended after each
    * ingest). The increment deduplicates within itself (min-id per
    * fingerprint, one window shuffle keyed by the digest) and anti-joins
    * the corpus fingerprints (shuffle of digests only, AQE-broadcastable
    * when the increment is small).
    *
    * Contract: the CORPUS always wins — an increment row whose content
    * already exists in the corpus is dropped regardless of id order.
    * Under the natural ingest invariant (increment ids assigned after
    * corpus ids, as in q50), the output is exactly the rows
    * [[exactGroups]] over the union would have newly kept; with
    * arbitrary interleaved id spaces, min-id union semantics could
    * instead elect an increment row — use exactGroups over the union if
    * that is the semantics needed.
    */
  def dedupeAgainst(
      increment: DataFrame, corpusFingerprints: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("fingerprint").orderBy(col(idCol))
    increment
      .withColumn("fingerprint", contentFingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .join(corpusFingerprints.select("fingerprint"), Seq("fingerprint"), "left_anti")
  }

  /** The fingerprint set of a corpus, the right side of [[dedupeAgainst]]. */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(contentFingerprint(col(textCol)).as("fingerprint")).distinct()

  /** Per-doc distinct word-shingle sets, the shared input of the Jaccard
    * family.
    *
    * Deliberately NOT filtered on `size(shingles) > 0`: predicate pushdown
    * would substitute the whole shingle expression into the scan's data
    * filter — running the expensive kernel inside the (possibly
    * single-split) scan stage, below the [[ScaleOut]] exchange. Zero-
    * shingle docs are harmless downstream: they explode to no inverted-
    * index rows, and empty-vs-empty sketch collisions score NaN in
    * verification, which fails every threshold.
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    ScaleOut(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), shingleSet(col("text"), n).as("shingles"))

  /** Exact-Jaccard verification of candidate pairs: join the shingle sets
    * back and compute |intersect|/|union| — only candidate pairs are ever
    * scored, and the score is exact regardless of how candidates were
    * generated. Shared by the inverted-index and MinHash-LSH paths.
    */
  private def verifyJaccard(
      candidates: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Exact-Jaccard verification over HASHED-key sets: joins per-doc
    * (n_sh, keys) rows onto the candidate pairs and scores
    * |intersect| / |union| on the 8-byte key arrays. One definition for
    * the inverted-index and incremental-index paths, so the
    * oracle-sensitive formula (denominator shape, threshold comparison,
    * 6-dp rounding) cannot drift between them. `sets` columns:
    * (id, n_sh, keys).
    */
  private def verifyJaccardHashed(
      candidates: DataFrame, sets: DataFrame, threshold: Double,
      broadcastPairs: Boolean = false): DataFrame = {
    // when the pair side is bounded (an increment probe), hint it through
    // BOTH joins so the corpus-sized set side streams un-shuffled; the
    // full-corpus paths keep the optimizer's choice (their pair side is
    // output-bound, not batch-bound)
    val hint = (df: DataFrame) => if (broadcastPairs) broadcast(df) else df
    hint(hint(candidates)
      .join(sets.select(col("id").as("id_a"), col("n_sh").as("n_a"), col("keys").as("k_a")), "id_a"))
      .join(sets.select(col("id").as("id_b"), col("n_sh").as("n_b"), col("keys").as("k_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("k_a"), col("k_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Ground-truth near-dup pairs: exact Jaccard with candidates from
    * PREFIX FILTERING over an inverted shingle index — never a cross join,
    * never a recall cap.
    *
    * Prefix filter (Chaudhuri et al., "A Primitive Operator for Similarity
    * Joins", ICDE'06): order every document's shingles by global rarity
    * (document frequency asc, then hash — a strict total order shared by
    * all docs). If J(a,b) >= t then |a∩b| >= t·|a∪b| >= t·|a|, and the
    * globally-rarest common shingle must sit within the first
    * |d| − ⌈t·|d|⌉ + 1 shingles of BOTH docs (were it outside doc a's
    * prefix, all common shingles would be among a's last ⌈t·|a|⌉ − 1,
    * contradicting |a∩b| >= t·|a|). So joining only the per-doc prefixes
    * on shingle hash generates a superset of all qualifying pairs —
    * EXACT, with no document-frequency cap and no lost >cap clusters —
    * while boilerplate shingles (highest df, sorted last) never enter a
    * prefix unless the doc is mostly boilerplate, which is precisely when
    * they are needed for recall. A size-ratio guard (t·|a| <= |b| and
    * t·|b| <= |a|, both implied by J >= t) prunes cross-size noise.
    * Candidate volume is output-bound plus prefix-collision noise: an
    * m-doc near-identical cluster still yields its inherent m²/2 output
    * pairs, but no hot shingle multiplies unrelated docs.
    *
    * Scale shape: the join key is the 64-bit shingle hash (8-byte
    * shuffle keys, not n-gram strings); document frequency is a window
    * over the shkey exchange and per-doc rank a window over the id
    * exchange. The shingling kernel (the most expensive expression here)
    * feeds four structurally DIFFERENT consumers after column pruning
    * (both prefix join sides, both verification set joins), which defeats
    * exchange reuse — so its output is persisted spill-safe
    * (MEMORY_AND_DISK) and evaluated exactly once. Verification
    * intersects per-doc
    * HASHED-key arrays (8-byte elements, no kernel re-eval); per-window
    * buffering is bounded by a single document's shingle count.
    *
    * Block lifetime: run the consuming action inside [[CacheScope.scoped]]
    * and the persisted kernel output is released when the scope exits;
    * outside a scope the session keeps the block until the caller releases
    * it (see [[CacheScope]]).
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // persist the exploded HASHED rows, not the shingle arrays: three
    // narrow columns cache far cheaper than array<string>, and every
    // consumer reads exactly this shape
    val inv = CacheScope.pin(
      shingled(docs, idCol, textCol, n)
        .select(col("id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("sh"))
        .select(col("id"), col("n_sh"), xxhash64(col("sh")).as("shkey")),
      StorageLevel.MEMORY_AND_DISK)
    // df via groupBy+join, NOT a window: a window partitioned by shkey
    // buffers every row of a hot (boilerplate) shingle in one task with
    // no skew mitigation, while the aggregate combines map-side and the
    // skewed join is AQE-splittable. The persisted `inv` already
    // guarantees the kernel runs once, which is what the window form was
    // buying before. The join carries only the REPEATED shingles (df >= 2
    // — in a real corpus the overwhelming majority of shingles are
    // unique, and df = 1 is the left join's default), so the joined side
    // is the small repeated tail: AQE broadcasts it at runtime and the
    // full inv relation never re-shuffles by shkey for the join; when the
    // repeated tail is genuinely large it degrades to the same
    // AQE-splittable shuffle join as joining all of dfreq would.
    val dfreq = inv.groupBy("shkey").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    val keyed = inv.join(dfreq, Seq("shkey"), "left")
      .withColumn("df", coalesce(col("df"), lit(1L)))
    // global rarity rank within each doc; (df, shkey) is a strict total
    // order because shkey is unique per distinct shingle
    val ranked = keyed.withColumn("pos", row_number().over(
      Window.partitionBy("id").orderBy(col("df"), col("shkey"))))
    // the 1e-9 slack keeps ceil() from rounding a binary-inexact t·|d|
    // (e.g. 0.8*5 = 4.0000000000000002) past the true integer bound,
    // which would shorten the prefix and break the exactness guarantee
    val prefix = ranked
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("id", "n_sh", "shkey")
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shkey") === col("b.shkey") && col("a.id") < col("b.id") &&
          col("b.n_sh") >= lit(threshold) * col("a.n_sh") - lit(1e-9) &&
          col("a.n_sh") >= lit(threshold) * col("b.n_sh") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // hashed-key sets off the SAME id-partitioned exchange `ranked` uses
    // (no new shuffle, no kernel re-eval); hash-equality == shingle
    // equality is already the candidate join's premise
    val sets = ranked.groupBy("id")
      .agg(first(col("n_sh")).as("n_sh"), collect_list(col("shkey")).as("keys"))
    verifyJaccardHashed(candidates, sets, threshold)
  }

  /** Directed CONTAINMENT pairs (Broder's containment, the resemblance
    * measure's asymmetric sibling): C(a,b) = |a∩b| / |a| over distinct
    * word n-gram shingles — "how much of a is inside b". This catches
    * what Jaccard structurally cannot: an excerpt, quote, or syndicated
    * fragment buried in a much larger document scores C ≈ 1 while
    * J = |a|/|b| stays far below any dedup threshold. Output is one
    * DIRECTED row (id_a, id_b, containment) per ordered pair with
    * C(a,b) >= threshold; a pair of identical docs yields both
    * directions, which is the semantics a containment audit wants.
    *
    * Candidates come from the SAME rarity-ordered prefix filter as
    * [[ngramJaccardPairs]], adapted to the asymmetric bound: C(a,b) >= t
    * gives |a∩b| >= ⌈t·|a|⌉, so if none of a's first
    * |a| − ⌈t·|a|⌉ + 1 rarest shingles were common, all common shingles
    * would sit among a's last ⌈t·|a|⌉ − 1 — contradiction. Hence joining
    * a's PREFIX against the FULL inverted list (containment puts no
    * prefix bound on the CONTAINING side — b may be arbitrarily large)
    * is a superset of all qualifying pairs, exact with no recall cap.
    * The size guard |b| >= ⌈t·|a|⌉ (|a∩b| <= |b|) prunes cross-size
    * noise. Rare-first prefix ordering keeps boilerplate shingles out of
    * prefixes, so the full-list join side stays low-df except where a
    * genuinely large containing cluster makes the output itself large.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — 8-byte shingle
    * hash join keys, kernel persisted and evaluated once, verification
    * on hashed-key arrays bounded by one document's shingle count.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val inv = CacheScope.pin(
      shingled(docs, idCol, textCol, n)
        .select(col("id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("sh"))
        .select(col("id"), col("n_sh"), xxhash64(col("sh")).as("shkey")),
      StorageLevel.MEMORY_AND_DISK)
    val dfreq = inv.groupBy("shkey").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    val keyed = inv.join(dfreq, Seq("shkey"), "left")
      .withColumn("df", coalesce(col("df"), lit(1L)))
    val ranked = keyed.withColumn("pos", row_number().over(
      Window.partitionBy("id").orderBy(col("df"), col("shkey"))))
    val prefix = ranked
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("id", "n_sh", "shkey")
    val candidates = prefix.as("a").join(ranked.as("b"),
        col("a.shkey") === col("b.shkey") && col("a.id") =!= col("b.id") &&
          col("b.n_sh") >= ceil(lit(threshold) * col("a.n_sh") - lit(1e-9)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = ranked.groupBy("id")
      .agg(first(col("n_sh")).as("n_sh"), collect_list(col("shkey")).as("keys"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("n_sh").as("n_a"), col("keys").as("k_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("keys").as("k_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("k_a"), col("k_b"))).cast("long"))
      .withColumn("containment", col("n_common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
  }

  /** MinHash+LSH near-dup pairs: k-hash signatures, b bands of r rows
    * (k = b*r); docs colliding in any band become candidates; candidates
    * are verified with exact Jaccard so output quality equals the exact
    * operator, at index cost instead of all-pairs cost.
    *
    * Default k=128, b=32, r=4: P[candidate | j] = 1-(1-j^4)^32, i.e.
    * ~1e-7 miss rate at j=0.8.
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // three consumers (signature path + both verification joins) with
    // different prunings — persist so the shingle kernel runs once; the
    // block's lifetime follows the caller's CacheScope (see ngramJaccardPairs)
    val sets = CacheScope.pin(
      shingled(docs, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
    val sig = sets.select(col("id"),
      minhashSignature(col("shingles"), numHashes, seed).as("sig"))
    // one row per (band, bucket): bucket key = xxhash64 of the band slice.
    // No document-frequency cap is needed here: a band collision requires
    // r consecutive minhashes equal (P ≈ j^r), so boilerplate shingles do
    // NOT create hot buckets — only genuine near-dup clusters do, and a
    // cluster of m near-identical docs legitimately yields ~m²/2 output
    // pairs (the requested pair semantics; cluster-representative dedup
    // via exactGroups/connected components is the path when m² output
    // itself is the problem).
    val buckets = bandBuckets(sig, bands, r)
    val candidates = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact-Jaccard verification of candidates only
    verifyJaccard(candidates, sets, threshold)
  }

  /** CROSS-SET MinHash-LSH near-dup pairs — fuzzy DECONTAMINATION (the
    * GPT-3/Llama-report shape): which TRAIN documents are near-dups of
    * an EVAL document, so they can be dropped before training. Same
    * banded candidate generation and exact-Jaccard verification as
    * [[minhashLshPairs]], but the band-bucket join runs eval ACROSS
    * train — neither side ever self-pairs, and the candidate surface is
    * |eval buckets| × colliding train buckets, not corpus². The eval
    * side is typically policy-sized (benchmark suites), so its bucket
    * and set frames broadcast; train contributes only colliding rows.
    *
    * Output: (id_a = eval id, id_b = train id, jaccard). Id spaces must
    * be disjoint across the two inputs (the caller's contract — the
    * verification join unions the shingle-set frames).
    */
  def minhashLshCrossPairs(
      evalDocs: DataFrame, trainDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    val setsE = CacheScope.pin(
      shingled(evalDocs, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
    val setsT = CacheScope.pin(
      shingled(trainDocs, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
    def bucketsOf(sets: DataFrame) = bandBuckets(
      sets.select(col("id"), minhashSignature(col("shingles"), numHashes, seed).as("sig")),
      bands, r)
    val candidates = bucketsOf(setsE).as("a").join(bucketsOf(setsT).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, setsE.unionByName(setsT), threshold)
  }

  /** One row per (id, band): bucket = xxhash64(band, that band's
    * signature slice). One definition shared by the in-memory pair path
    * and the persisted-index path, so an increment probing a stored index
    * can never hash a band differently than the build did.
    */
  private def bandBuckets(sig: DataFrame, bands: Int, r: Int): DataFrame =
    sig
      .select(col("id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("band"),
        xxhash64(col("band"), expr(s"slice(sig, band * $r + 1, $r)")).as("bucket"))

  /** Per-doc (id, n_sh, hashed-shingle-key array) — the verification-side
    * shape of the near-dup index: 8-byte keys, never the text. Docs with
    * zero shingles drop out (they cannot be in a qualifying pair).
    *
    * A per-row ARRAY MAP (compiled [[graft.functions.expr.XxHash64Array]]
    * kernel), NOT explode + groupBy + collect_list: the rows arrive
    * already grouped, so the former id-keyed exchange of the whole key
    * population — paid on every index build and every incremental probe
    * micro-batch — carried zero information. Key VALUES are unchanged
    * (the SQL `xxhash64` builtin's single-string form, seed 42), so
    * stored indexes and the Jaccard arithmetic are unaffected; only the
    * within-array order differs (first-occurrence instead of shuffle
    * arrival), which nothing consumes — verification is
    * `array_intersect`/size arithmetic.
    */
  private def hashedKeySets(sets: DataFrame): DataFrame =
    sets
      .filter(size(col("shingles")) > 0)
      .select(col("id"), size(col("shingles")).cast("int").as("n_sh"),
        graft.functions.expr.HashFunctions.xxhash64Array(col("shingles")).as("keys"))

  /** Persist a MinHash-LSH near-dup index for a corpus: band buckets
    * (`dir/buckets`: id, band, bucket), hashed shingle-key sets
    * (`dir/sets`: id, n_sh, keys — for exact-Jaccard verification without
    * the text), and the signature parameters (`dir/meta`, written LAST as
    * the completion marker).
    *
    * This is the daily-ingest deployment shape: [[minhashLshPairs]] over
    * corpus+increment re-shingles and re-signatures the WHOLE corpus on
    * every run — at 100 TB that is petabytes of kernel work to dedupe
    * gigabytes. Built once per corpus state, the index lets
    * [[incrementalNearDupPairs]] probe with an increment whose own
    * shingling is the only kernel work; after the ingest, append the
    * increment's bucket/set rows (the same frames this writes) to keep the
    * index current. Corpus-side cost here is the one-off build: the
    * shingle kernel runs once (persisted), and the set aggregation is one
    * id-keyed shuffle of 8-byte keys.
    */
  def writeMinhashIndex(
      docs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 128, bands: Int = 32, seed: Long = 42L): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val spark = docs.sparkSession
    val r = numHashes / bands
    CacheScope.scoped {
      val sets = CacheScope.pin(
        shingled(docs, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
      bandBuckets(
          sets.select(col("id"), minhashSignature(col("shingles"), numHashes, seed).as("sig")),
          bands, r)
        .write.mode("overwrite").parquet(s"$dir/buckets")
      hashedKeySets(sets).write.mode("overwrite").parquet(s"$dir/sets")
      import spark.implicits._
      Seq((n, numHashes, bands, seed)).toDF("n", "num_hashes", "bands", "seed")
        .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  /** Append an increment's band-bucket and hashed-key-set rows to a
    * [[writeMinhashIndex]] directory — the index-maintenance step its
    * deployment contract promises ("after the ingest, append the
    * increment's bucket/set rows to keep the index current"), as an
    * operator. Signature parameters come from the index meta, so the
    * appended rows and the stored rows cannot disagree; the corpus files
    * are never rewritten and meta is untouched.
    *
    * The append is one [[graft.sources.Segments.append]]: both frames
    * land in one segment whose marker rename is the atomic publish, so a
    * crash between the bucket and set writes can never leave bucket rows
    * whose set rows are missing (candidates that silently fail the verify
    * join), and a deterministic `seg` (e.g. `batch-<id>`) is skipped whole
    * once committed. The caller owns the ingest invariant (ids disjoint
    * from what the index already holds) and ordering (append AFTER the
    * batch's own probe).
    */
  def appendToMinhashIndex(
      increment: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      seg: Option[String] = None): Unit = CacheScope.scoped {
    val (sets, buckets) = minhashFrames(increment, dir, idCol, textCol)
    Segments.append(increment.sparkSession, dir, seg, minhashLayout,
      Seq(buckets, hashedKeySets(sets)))
  }

  private val minhashLayout: Segments.Layout = Seq("buckets" -> Nil, "sets" -> Nil)

  /** The increment's pinned shingle sets and band buckets at the index's
    * meta parameters — computed once per batch and shared by the probe
    * and the segment parts (the text kernel is the dominant per-batch
    * cost). Pins follow the caller's [[CacheScope]].
    */
  private def minhashFrames(increment: DataFrame, dir: String,
      idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val (n, numHashes, bands, seed) = minhashMeta(increment.sparkSession, dir)
    val sets = CacheScope.pin(
      shingled(increment, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
    val buckets = CacheScope.pin(
      bandBuckets(
        sets.select(col("id"), minhashSignature(col("shingles"), numHashes, seed).as("sig")),
        bands, numHashes / bands),
      StorageLevel.MEMORY_AND_DISK)
    (sets, buckets)
  }

  /** The MinHash index's ingest kernel ([[graft.streaming.IndexIngest]]):
    * a batch's bucket and set parts plus its touching pairs
    * ([[incrementalNearDupPairs]] over the shared kernel frames).
    */
  def minhashIngestKernel(
      dir: String, idCol: String, textCol: String,
      threshold: Double): graft.streaming.IndexIngest.Kernel =
    graft.streaming.IndexIngest.Kernel(dir, minhashLayout, { batch =>
      val (sets, buckets) = minhashFrames(batch, dir, idCol, textCol)
      (Seq(buckets, hashedKeySets(sets)),
        incrementalPairsFromKernel(batch.sparkSession, dir, sets, buckets,
          threshold, hinted = fitsBroadcast(batch)))
    })

  /** Near-dup pairs TOUCHING an increment — increment-vs-corpus and
    * increment-vs-increment, never corpus-vs-corpus — against a
    * [[writeMinhashIndex]] directory. The corpus participates ONLY through
    * its index: band buckets for candidate generation and hashed key sets
    * for exact-Jaccard verification; its text is never read and its
    * shingle kernel never re-runs (the spec pins `inputFiles` to the index
    * directory). Signature parameters come from the index's meta, so probe
    * and build cannot disagree.
    *
    * Increment ids must be disjoint from corpus ids (the ingest
    * invariant); an id present in both is resolved in the increment's
    * favor. Output pairs are (id_a < id_b, exact jaccard >= threshold) —
    * the same contract as [[minhashLshPairs]] restricted to pairs with at
    * least one increment member.
    */
  def incrementalNearDupPairs(
      spark: SparkSession, dir: String, increment: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8): DataFrame = {
    val (n, numHashes, bands, seed) = minhashMeta(spark, dir)
    // the increment's shingle kernel feeds both its buckets and its
    // verification sets — persist so it runs once (caller's CacheScope)
    val incSets = CacheScope.pin(
      shingled(increment, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
    val incBuckets = bandBuckets(
      incSets.select(col("id"), minhashSignature(col("shingles"), numHashes, seed).as("sig")),
      bands, numHashes / bands)
    incrementalPairsFromKernel(spark, dir, incSets, incBuckets, threshold,
      hinted = fitsBroadcast(increment))
  }

  /** True when `frame`'s optimizer size estimate fits under the session's
    * `autoBroadcastJoinThreshold` — the same budget the optimizer applies
    * before choosing a broadcast join on its own. The incremental probe
    * uses this to decide whether its increment-bounded sides may carry
    * explicit broadcast hints: `incrementalNearDupPairs` is a public API
    * with CALLER-sized increments, and an unconditional hint would turn
    * an oversized batch (or a collision-heavy one, whose verify frames
    * carry full hashed shingle-key arrays) into a driver OOM where the
    * un-hinted plan merely degrades to shuffle joins. Stats-only: reads
    * the optimized plan's `sizeInBytes`, launches no job. The estimate is
    * taken on the RAW increment frame — shingle-key payloads grow with
    * text size, so input bytes are a sound (conservative) proxy for every
    * broadcast side derived from it.
    */
  private def fitsBroadcast(frame: DataFrame): Boolean = {
    val limit = frame.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    limit > 0 && frame.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(limit)
  }

  /** Index meta, MEMOIZED per directory: the meta row is written once at
    * index build and never mutated (appends add segments, not meta), so a
    * streaming ingest's per-batch probes must not re-launch a one-row
    * parquet job per micro-batch for it. Key is the raw dir string — a
    * rebuilt index lands in a fresh staging/temp dir by the engine's
    * staging contract, so stale entries cannot alias.
    */
  private val minhashMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int, Long)]()

  private def minhashMeta(spark: SparkSession, dir: String): (Int, Int, Int, Long) =
    minhashMetaCache.computeIfAbsent(dir, { d =>
      val meta = spark.read.parquet(s"$d/meta").head()
      (meta.getAs[Int]("n"), meta.getAs[Int]("num_hashes"),
        meta.getAs[Int]("bands"), meta.getAs[Long]("seed"))
    })

  /** [[incrementalNearDupPairs]] past the kernel: probe the stored index
    * with ALREADY-COMPUTED increment shingle sets and band buckets, so a
    * caller that also needs them for an append (the streaming ingest)
    * pays the text kernel once ([[minhashIngestKernel]]). `hinted` carries
    * the [[fitsBroadcast]] verdict on the raw increment: when false, every
    * explicit broadcast hint on an increment-bounded side is dropped and
    * the optimizer chooses the join strategy (shuffle degradation instead
    * of a broadcast-memory failure).
    */
  private def incrementalPairsFromKernel(
      spark: SparkSession, dir: String, incSets: DataFrame,
      incBuckets: DataFrame, threshold: Double, hinted: Boolean): DataFrame = {
    val hint = (df: DataFrame) => if (hinted) broadcast(df) else df
    // widened for the same reason as the q78 probe: candidate rows and
    // the partial-distinct above them materialize in the STREAMED side's
    // partitions, and a small corpus index read as 1-2 parquet splits
    // would serialize that work on 1-2 cores (no-op at scale, where the
    // bucket scan arrives wide on its own)
    val corpusBuckets = ScaleOut(Segments.readPart(spark, dir, "buckets"))
    // probe side = corpus buckets ∪ increment buckets; the `corpus` flag
    // keeps pair semantics straight: inc-vs-corpus pairs in either id
    // order, inc-vs-inc deduped by id order. The small increment side
    // broadcasts; the index is the big, streamed side.
    val probeSide = corpusBuckets.withColumn("corpus", lit(true))
      .unionByName(incBuckets.withColumn("corpus", lit(false)))
    // increment-bounded sides carry explicit broadcast hints (when the
    // increment fits the broadcast budget) — the documented probe
    // contract ("the batch broadcasts, the index streams") made physical:
    // without them the optimizer's size estimates for computed frames
    // pick sort-merge joins that shuffle the INDEX side on every
    // micro-batch, and the per-batch wall-clock becomes
    // exchange-count-bound (r9 q92 watch-item). Bucket rows are
    // 3 longs × batch×bands; candidates are collision-bounded pairs.
    val candidates = hint(incBuckets.as("a")).join(probeSide.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id") && (col("b.corpus") || col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // verification sets: the increment's own, plus the stored corpus sets
    // (increment wins on an id collision via the anti-join)
    val incKeys = hashedKeySets(incSets)
    val sets = incKeys.unionByName(
      Segments.readPart(spark, dir, "sets")
        .join(hint(incKeys.select("id")), Seq("id"), "left_anti"))
    verifyJaccardHashed(candidates, sets, threshold, broadcastPairs = hinted)
  }

  /** Eval-set contamination probe: for each document of a (small) eval
    * set, the fraction of its distinct word n-grams that appear anywhere
    * in the training corpus — the benchmark-leakage check run before a
    * training corpus ships (the n-gram-overlap methodology of the GPT-3
    * appendix / Dodge et al. C4 audit, with longer n-grams than the dedup
    * family because a single shared 5-gram is already strong evidence).
    *
    * Scale shape (the asymmetry is the whole design): the eval set is
    * thousands of docs, the corpus is the 100 TB side. The eval side is
    * shingled, hashed, and BROADCAST; the corpus streams through the
    * broadcast-hash join shuffle-free — its only kernel work is its own
    * shingling, and no corpus-side distinct/exchange exists at all. The
    * per-eval match count aggregates (eval_id, shkey) pairs with map-side
    * partial distinct, bounded by eval size, never by corpus size.
    *
    * Output: (eval_id, n_grams, n_matched, frac_contaminated), one row
    * per eval doc with at least one n-gram (a doc shorter than n tokens
    * has no probe surface and is absent). Zero-match docs are kept with
    * frac 0 — the audit must list clean docs, not silently drop them.
    */
  def evalContamination(
      corpus: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 5): DataFrame = {
    // the eval shingle kernel feeds two consumers (the broadcast probe
    // side and the per-doc gram counts) — pin it so it runs once; the
    // block follows the caller's CacheScope as in the pair operators
    val sets = CacheScope.pin(
      shingled(eval, idCol, textCol, n), StorageLevel.MEMORY_AND_DISK)
    val evalSh = sets
      .select(col("id").as("eval_id"), explode(col("shingles")).as("sh"))
      .select(col("eval_id"), xxhash64(col("sh")).as("shkey"))
    val corpusSh = shingled(corpus, idCol, textCol, n)
      .select(explode(col("shingles")).as("sh"))
      .select(xxhash64(col("sh")).as("shkey"))
    // count DISTINCT matched shingles: a hot corpus shingle matches an
    // eval n-gram many times but contaminates it once
    val matched = corpusSh.join(broadcast(evalSh), Seq("shkey"))
      .groupBy("eval_id")
      .agg(countDistinct(col("shkey")).as("n_matched"))
    sets
      .select(col("id").as("eval_id"), size(col("shingles")).cast("long").as("n_grams"))
      // docs shorter than n tokens have no probe surface (the contract)
      .filter(col("n_grams") > 0)
      .join(matched, Seq("eval_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("frac_contaminated",
        round(col("n_matched").cast("double") / col("n_grams"), 6))
      .select("eval_id", "n_grams", "n_matched", "frac_contaminated")
  }

  /** SimHash near-dup pairs within a Hamming radius. Candidates come from
    * equality on one of `bands` equal-width bit-bands of the 64-bit
    * sketch (pigeonhole: hamming <= bands-1 guarantees a shared band),
    * verified with an exact popcount.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val sketches = ScaleOut(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), simhash64(tokens(col("text"))).as("sk"))
    hammingPairs64(sketches, maxHamming, bands)
  }

  /** Banded Hamming near-dup pairs over PRECOMPUTED 64-bit sketches
    * `(idCol, skCol)` — the pigeonhole band/verify tail shared by
    * SimHash (q22, text sketches) and the perceptual image dHash (q132,
    * pixel sketches): candidates from equality on one of `bands`
    * equal-width bit-bands, verified with an exact popcount. The
    * pigeonhole bound makes banding LOSSLESS at maxHamming <= bands-1 —
    * there the result equals all-pairs popcount without the all-pairs
    * surface (the q22/q132 gate settings); above that bound candidates
    * must still share a band, so the operator is deliberately
    * approximate (higher-recall radii trade completeness for the same
    * bounded candidate surface).
    */
  def hammingPairs64(
      sketches: DataFrame, maxHamming: Int, bands: Int,
      idCol: String = "id", skCol: String = "sk"): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val w = 64 / bands
    val banded = sketches.select(col(idCol).as("id"), col(skCol).as("sk"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("piece",
        expr(s"shiftrightunsigned(sk, band * $w)").bitwiseAND(lit((1L << w) - 1)))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.piece") === col("b.piece") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).cast("long").as("hamming"))
      // filter BEFORE distinct: the hamming test is per-row cheap and
      // prunes the exchange that dedups band collisions
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Collapse near-dup PAIRS into clusters and elect a representative:
    * connected components by iterative min-label propagation, returning
    * one (member_id, keep_id) row per vertex with keep_id = the minimum
    * id in the component.
    *
    * Pair-emitting operators ([[ngramJaccardPairs]], [[minhashLshPairs]],
    * [[embeddingNearDupLsh]]) answer "which documents are near-dups";
    * a curation run needs the KEEP-LIST — this is the bridge.
    *
    * Scale shape: each round is one join + one min-aggregate, both keyed
    * by vertex id; rounds needed = component diameter. Components built
    * from near-dup pair output are cliques or near-cliques (every member
    * pairs with most others), so propagation converges in 1-2 rounds.
    * `maxIters` bounds the propagation phase; past it the operator does
    * NOT abort — it switches to the alternating large-star/small-star
    * contraction ([[starKeepList]], O(log^2 n) rounds regardless of
    * diameter), so a chain-shaped component (serial near-dup drift at
    * corpus scale) still yields the exact keep-list. The handoff is also
    * taken EARLY: the convergence probe's changed-label count is free to
    * keep, and when it fails to halve for three consecutive rounds the
    * component set is shrinking arithmetically (the chain signature —
    * label fronts advancing one hop per round), so propagation stops
    * there instead of burning the rest of `maxIters` in linear-progress
    * rounds before the O(log^2) path engages. Clique-shaped inputs
    * converge before the window ever fills, so the early exit costs the
    * common case nothing. `roundProbe` (round index, changed-label
    * count) observes each propagation round — ops logging and the
    * handoff spec's hook; default no-op. Per round the
    * frontier is persisted and the previous one released — no lineage
    * blowup, bounded storage; the final frame's block follows the caller's
    * [[CacheScope]] (run the consuming action inside `CacheScope.scoped`).
    */
  /** Rebase an iterative frame on its own RDD, cutting the accumulated
    * logical plan. The propagation/contraction loops reference the
    * previous round's frame more than once per round (join + union), so
    * the LOGICAL plan doubles every round — by ~round 30 Catalyst's plan
    * stringification alone (run on every cache registration) exhausts the
    * heap, long before any data does. The RDD round-trip costs one row
    * serde pass over a (id, label)-width frame per round and keeps the
    * plan constant-size; the rebased frame still executes the underlying
    * plan once because the caller pins it.
    */
  private[operators] def rebasedFrame(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  private def rebased(df: DataFrame): DataFrame = rebasedFrame(df)

  def nearDupGroups(
      pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b",
      maxIters: Int = 20, roundProbe: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val e = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
    // pinned to the caller's scope as well: an exception mid-propagation
    // (e.g. the convergence guard) must not strand the blocks
    val edges = CacheScope.pin(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
      StorageLevel.MEMORY_AND_DISK)
    // seed with the 1-hop minimum (min over self + direct neighbors):
    // clique-shaped components — the common near-dup case — then converge
    // on the FIRST verification round instead of needing a propagation
    // round before it
    var labels = CacheScope.pin(
      edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), col("src")).as("label")),
      StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var handOff = false
    var it = 0
    var prevChanged = Long.MaxValue
    var slowRounds = 0
    while (!converged && !handOff && it < maxIters) {
      // each vertex takes the min label over itself and its neighbors.
      // The vertex's OWN row (the union's second branch) carries its
      // previous label in `old` (neighbor rows carry null, which the
      // max-aggregate ignores; every vertex has exactly one own row), so
      // the changed-label probe below is a filter over THIS aggregate's
      // pinned output — the probe rides the propagation shuffle instead
      // of costing a second labels-vs-next join per round (r11 verdict:
      // the probe join was the one per-round cost not doing propagation
      // work).
      val next = CacheScope.pin(rebased(
        edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("label"),
            lit(null).cast("long").as("old"))
          .union(labels.select(col("id"), col("label"),
            col("label").as("old")))
          .groupBy("id").agg(min("label").as("label"), max("old").as("old"))),
        StorageLevel.MEMORY_AND_DISK)
      // exact changed-label count: convergence is count == 0, and the
      // count doubles as the chain detector — when it stops HALVING for
      // three consecutive rounds, progress is arithmetic (a label front
      // crawling a chain one hop per round), and the star contraction's
      // O(log^2 n) rounds beat any remaining linear crawl, so hand off
      // now instead of at maxIters. This count is also what materializes
      // the pinned frame each round.
      val changed = next.filter(col("label") =!= col("old")).count()
      converged = changed == 0L
      if (!converged) {
        slowRounds = if (changed * 2 > prevChanged) slowRounds + 1 else 0
        handOff = slowRounds >= 3
      }
      prevChanged = changed
      roundProbe(it, changed)
      labels.unpersist()
      labels = next
      it += 1
    }
    // a component with diameter > maxIters (or one the chain detector
    // flagged) has unconverged labels: finish with star contraction
    // rather than returning them (or aborting) — rounds there scale with
    // log of the diameter, not the diameter itself. (Contracting the
    // edge set through the current labels before the handoff — fewer
    // star rounds over fewer supernodes — measured NEUTRAL-to-slower in
    // same-window A/B at sf0.1: the two endpoint-mapping joins plus the
    // final label→keep mapping join cost what the saved rounds save.
    // Kept simple.)
    val out =
      if (converged) labels.select(col("id").as("member_id"), col("label").as("keep_id"))
      else {
        labels.unpersist()
        starKeepList(edges)
      }
    // the result frame is materialized (convergence probe / star fixpoint
    // probe), so the edge list is no longer needed
    edges.unpersist()
    out
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round re-roots every vertex's larger neighbors at its
    * neighborhood minimum (large-star), then collapses its smaller
    * neighbors onto that minimum (small-star). The edge set converges to
    * one star per component rooted at the component's minimum id in
    * O(log^2 n) rounds — independent of component DIAMETER, which is what
    * defeats plain min-label propagation on chain-shaped components.
    *
    * Scale shape: both phases are a groupBy-min plus a re-keyed join
    * projection over the current edge set, all keyed by vertex id; no
    * phase materializes anything larger than the edge set itself, and the
    * edge set only shrinks toward one row per non-root member. The
    * fixpoint probe is an exact symmetric set difference (two `except`s)
    * per round — rounds are few, and an inexact probe (count / checksum)
    * could declare a wrong fixpoint.
    *
    * `edges` must hold BOTH orientations of each undirected pair
    * (columns `src`, `dst`), the form [[nearDupGroups]] caches. Output
    * follows the [[nearDupGroups]] contract: one (member_id, keep_id) row
    * per vertex appearing in any pair, keep_id = component minimum.
    */
  private def starKeepList(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    // canonical child > parent orientation; the symmetric input holds
    // both, so greatest/least on either orientation dedups to one row
    var cur = CacheScope.pin(
      edges.select(
          greatest(col("src"), col("dst")).as("child"),
          least(col("src"), col("dst")).as("parent"))
        .filter(col("child") =!= col("parent")).distinct(),
      StorageLevel.MEMORY_AND_DISK)
    var nCur = cur.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: every vertex points its LARGER neighbors at the
      // minimum of its closed neighborhood (needs the full neighborhood,
      // so symmetrize the oriented set first)
      val sym = cur.select(col("child").as("src"), col("parent").as("dst"))
        .union(cur.select(col("parent").as("src"), col("child").as("dst")))
      val lsMin = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("mn"))
      val ls = sym.join(lsMin, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("child"), col("mn").as("parent"))
        .filter(col("child") =!= col("parent")).distinct()
      // small-star: every vertex re-parents its parents (all smaller)
      // and itself onto the minimum parent
      val ssMin = ls.groupBy("child").agg(min(col("parent")).as("mn"))
      val next = CacheScope.pin(rebased(
        ls.join(ssMin, "child")
          .select(col("parent").as("child"), col("mn").as("parent"))
          .union(ssMin.select(col("child"), col("mn").as("parent")))
          .filter(col("child") =!= col("parent")).distinct()),
        StorageLevel.MEMORY_AND_DISK)
      // exact fixpoint probe, cheapest-first: both sides are DISTINCT
      // sets, so equal counts + (next \ cur) empty IS set equality —
      // and counts strictly shrink on most contraction rounds, making
      // the count pair the only probe cost until the final rounds.
      // left_anti (not except): the sides are already distinct, so the
      // anti-join is the set difference without except's extra
      // dedup-both-sides aggregation
      val nNext = next.count()
      converged = nNext == nCur &&
        next.join(cur, Seq("child", "parent"), "left_anti").isEmpty
      cur.unpersist()
      cur = next
      nCur = nNext
      round += 1
    }
    // log^2 bound makes this unreachable for any realistic edge set; keep
    // the honest abort rather than a silently partial keep-list
    require(converged,
      s"star contraction did not reach a fixpoint in $maxRounds rounds")
    // fixpoint: every edge is (member, component-min); roots complete the
    // cover with self-rows
    cur.select(col("child").as("member_id"), col("parent").as("keep_id"))
      .unionByName(
        cur.select(col("parent").as("member_id"), col("parent").as("keep_id")).distinct())
  }

  /** Incremental KEEP-LIST maintenance — the missing last step of the
    * incremental dedup family: the pair probes (q70/q78/q90) answer
    * "which new pairs touch the ingest", but a curation run consumes the
    * keep-list, and rebuilding it from scratch re-runs connected
    * components over the corpus-vs-corpus pair set that did not change.
    * This merges the EXISTING corpus keep-list with the increment's
    * probe pairs instead.
    *
    * Correctness rests on the star-edge equivalence: a component's
    * keep-list rows (member → keep) are a spanning star of that
    * component, so connected components over (star edges ∪ new pairs)
    * equal components over (original corpus pairs ∪ new pairs) — the
    * exact from-scratch answer (DedupSpec pins the equality, including
    * the case where one increment document BRIDGES two existing corpus
    * components, whose labels must all collapse to the global min).
    *
    * Scale shape: input sizes are |corpus keep-list| (one row per
    * already-grouped member — far smaller than the corpus pair set) plus
    * |increment-touching pairs|; propagation inherits
    * [[nearDupGroups]]'s per-round join+min-aggregate shape, and stars
    * converge in ~2 rounds, so the merge costs rounds over MB-scale
    * edges, not a re-run over the corpus. Output follows the
    * [[nearDupGroups]] convention (paired members only; singletons
    * complete at read time as in q43).
    */
  def incrementalKeepList(
      corpusKeepList: DataFrame, incrementPairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val stars = corpusKeepList
      .filter(col("member_id") =!= col("keep_id"))
      .select(col("member_id").as("id_a"), col("keep_id").as("id_b"))
    nearDupGroups(
      stars.unionByName(incrementPairs.select(col("id_a"), col("id_b"))),
      maxIters = maxIters)
  }

  /** Leakage-safe train/valid/test assignment: every document is split by
    * a deterministic hash of its near-dup GROUP representative, so a
    * cluster of near-duplicates can never straddle split boundaries — the
    * classic eval-set contamination a doc-id-hash split silently permits.
    *
    * The split key is the first hex character of md5(keep_id): uniform
    * over 16 values, so thresholds are sixteenths (default 12/2/2 =
    * 75% / 12.5% / 12.5%). Hex-char thresholds rather than hash-mod keep
    * the rule portable to any engine with md5 (the oracle reproduces it
    * verbatim). One broadcast-sized join against the keep-list; no
    * shuffle of the corpus beyond what [[nearDupGroups]] already did.
    */
  def leakageSafeSplit(
      docs: DataFrame, groups: DataFrame,
      idCol: String = "doc_id",
      trainSixteenths: Int = 12, validSixteenths: Int = 2): DataFrame = {
    require(trainSixteenths + validSixteenths < 16,
      "train + valid must leave room for test")
    val hexChars = "0123456789abcdef"
    val trainMax = hexChars(trainSixteenths - 1).toString
    val validMax = hexChars(trainSixteenths + validSixteenths - 1).toString
    val keyed = docs.select(col(idCol))
      .join(groups, docs(idCol) === groups("member_id"), "left")
      .select(col(idCol), coalesce(col("keep_id"), col(idCol)).as("keep_id"))
    keyed
      .withColumn("h", substring(md5(encode(col("keep_id").cast("string"), "UTF-8")), 1, 1))
      .withColumn("split",
        when(col("h") <= trainMax, "train")
          .when(col("h") <= validMax, "valid")
          .otherwise("test"))
      .select(col(idCol), col("keep_id"), col("split"))
  }

  /** Exact embedding-cosine near-dup pairs (ground truth; all-pairs via a
    * broadcast nested-loop — use ONLY at verification scale or as the
    * within-bucket kernel of [[embeddingNearDupLsh]]).
    *
    * The verification-scale contract is ENFORCED, not advisory: a corpus
    * above `maxInputRows` is refused with a pointer to the scale path,
    * because an all-pairs join that sneaks into a scheduled pipeline is
    * a quadratic time bomb, not a slow query. Raise the bound explicitly
    * for a deliberate large ground-truth run. The guard is an eager
    * action at call time (this API is NOT lazy), but its cost is bounded:
    * it counts a `limit(maxInputRows + 1)` of the input, so it never
    * scans past the refusal point even over a derived input.
    */
  def embeddingNearDupExact(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, maxInputRows: Long = 20000L): DataFrame = {
    val n = emb.limit((maxInputRows + 1).min(Int.MaxValue).toInt).count()
    require(n <= maxInputRows,
      s"embeddingNearDupExact is all-pairs (verification scale only): input has " +
        s"> maxInputRows=$maxInputRows rows — use embeddingNearDupLsh (the " +
        "scale path) or raise maxInputRows explicitly for a ground-truth run")
    val v = ScaleOut(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine", cosineSim(col("a.vec"), col("b.vec")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Scale path for embedding near-dup: random-hyperplane LSH buckets
    * (see [[Ann.withBuckets]]), exact cosine within buckets only.
    *
    * Recall/selectivity math (details in [[Ann]]'s object doc): a pair at
    * angle θ agrees on one hyperplane bit with probability p = 1 − θ/π.
    * The shipped defaults (planes=16, tables=16, radius-1 multi-probe on
    * one join side) target the realistic near-dup regime of the default
    * `threshold` 0.95 (p ≥ 0.90): miss ≈ 1e-5 at the threshold boundary,
    * exponentially safer above it, while orthogonal background pairs
    * collide with only 16·17/2^16 ≈ 0.4% probability — ~240× fewer
    * scorings than the all-pairs twin. At low thresholds near cos 0.5
    * (θ = 60°, the hyperplane worst case) NO parameterization is
    * selective at near-certain recall — candidate volume degenerates to
    * ≈ all-pairs; pass few-planes/many-tables explicitly there (as the
    * demo query does) and expect brute-force-like cost, or use
    * [[embeddingNearDupExact]] outright.
    */
  def embeddingNearDupLsh(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, planes: Int = 16, tables: Int = 16,
      dim: Int = 64, seed: Long = 42L, probeRadius: Int = 1): DataFrame = {
    val v = ScaleOut(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val base = Ann.withBuckets(v, "vec", planes, tables, dim, seed)
    val probed = Ann.withBuckets(v, "vec", planes, tables, dim, seed, probeRadius)
    probed.as("a").join(base.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      // score IN the join stage and dedupe the scalar triple afterwards:
      // a multi-table/multi-probe pair re-scores redundantly (cheap flops)
      // instead of shuffling its vectors through a distinct (dominant cost
      // at tables x probes candidate multiplicity)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineSim(col("a.vec"), col("b.vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Semantic (clustered) near-dup pairs — the SemDeDup shape (Abbas et
    * al. 2023, arXiv:2303.09540): partition the corpus with a spherical
    * k-means coarse quantizer (reusing [[Ivf.trainCentroids]]) and score
    * exact cosine ONLY within a cell, so the pair surface is
    * sum-of-squares over cell sizes instead of all-pairs. This is the
    * third embedding scale path next to [[embeddingNearDupLsh]]: LSH
    * buckets are oblivious to corpus structure (good on structureless
    * data), cells exploit it (good on the clustered corpora training
    * data actually is — near-dups are semantically close, so they land
    * in the same region of embedding space).
    *
    * Recall at cell BOUNDARIES is the failure mode k-means introduces: a
    * qualifying pair split across two adjacent cells is invisible to a
    * single-assignment join. `nassign` > 1 multi-assigns every vector to
    * its `nassign` nearest cells (the dedup analogue of IVF's nprobe —
    * both sides widen, so a pair is caught iff ANY cell is shared);
    * duplicate catches collapse in the post-score `distinct`, paid in
    * cheap re-scored flops, not a pre-score vector shuffle (same
    * trade as [[embeddingNearDupLsh]]).
    *
    * Scale notes: the within-cell self-join shuffles both sides on the
    * smallint cell key, with every vector REPLICATED `nassign`× through
    * that exchange (the explode runs below the join) — multi-assignment
    * buys its boundary recall with an `nassign`-factor shuffle volume,
    * not for free; `nlist` controls the quadratic-per-cell bound — size
    * it so corpus/nlist fits a partition (the quantizer trains on a
    * bounded sample via `sampleOneIn`, and a skewed giant cell is a
    * data-distribution signal to raise nlist, exactly as in the SemDeDup
    * paper's k=11k over 600M docs).
    */
  def semanticNearDupPairs(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, nlist: Int = 16, nassign: Int = 2,
      iters: Int = 3, seed: Long = 42L, sampleOneIn: Int = 1): DataFrame = {
    require(nassign >= 1 && nassign <= nlist, s"nassign must be in [1, nlist]")
    val cents = Ivf.trainCentroids(emb, idCol, vecCol, nlist, iters, seed, sampleOneIn)
    val v = ScaleOut(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        explode(nearestCells(col("vec"), cents, nassign)).as("cell"))
    cellPairScore(v, threshold)
  }

  /** Shared within-cell scoring tail for the in-memory and staged
    * semantic paths: cell-keyed self-join on (id, vec, cell) rows, exact
    * cosine, post-score distinct (multi-assignment catches collapse in
    * cheap re-scored flops, not a pre-score vector shuffle). One
    * definition so the two paths cannot silently diverge.
    */
  private[operators] def cellPairScore(v: DataFrame, threshold: Double): DataFrame =
    v.as("a").join(v.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineSim(col("a.vec"), col("b.vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  /** Persist a semantic (k-means cell) near-dup index: the trained
    * quantizer plus the corpus's multi-assignments — `dir/assigned`
    * (id, cell, vec; `nassign` rows per vector, the within-cell join's
    * scan-ready layout), `dir/vecs` (id, vec; one row per vector, the
    * pair-verification side), `dir/centroids` (cell, centroid), and
    * `dir/meta` (nlist, nassign, seed — written LAST as the completion
    * marker).
    *
    * Same deployment shape as [[writeMinhashIndex]]/[[writeEmbeddingIndex]]:
    * the quantizer trains once per corpus state (the expensive, sampled,
    * iterative step) and every consumer — the full audit (q87) and the
    * daily-increment probe (q90) — reads it instead of retraining.
    * Vectors are replicated `nassign`× in `assigned` (disk for shuffle:
    * the full audit scans join-ready rows with zero pre-join exchange).
    */
  def writeSemanticIndex(
      emb: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, nassign: Int = 2, iters: Int = 3, seed: Long = 42L,
      sampleOneIn: Int = 1): Unit = {
    require(nassign >= 1 && nassign <= nlist, s"nassign must be in [1, nlist]")
    val spark = emb.sparkSession
    val cents = Ivf.trainCentroids(emb, idCol, vecCol, nlist, iters, seed, sampleOneIn)
    val v = ScaleOut(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    v.select(col("id"), col("vec"),
        explode(nearestCells(col("vec"), cents, nassign)).as("cell"))
      .write.mode("overwrite").parquet(s"$dir/assigned")
    v.write.mode("overwrite").parquet(s"$dir/vecs")
    // training assignment-distance distribution: the reference point the
    // drift audit ([[semanticDrift]]) compares appended increments
    // against — "codebook drift is the rebuild trigger" needs a recorded
    // baseline to be observable, not a comment. One corpus aggregate.
    val trainStats = v
      .select(graft.functions.expr.VectorFunctions
        .nearestCellDistance(col("vec"), cents).getField("dist").as("dist"))
      .agg(avg(col("dist")).as("mean"), count(lit(1)).as("n"))
      .head()
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/centroids")
    Seq((nlist, nassign, seed, trainStats.getDouble(0), trainStats.getLong(1)))
      .toDF("nlist", "nassign", "seed", "train_mean_dist", "train_n")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Full-corpus semantic near-dup pairs from a [[writeSemanticIndex]]
    * directory — output identical to [[semanticNearDupPairs]] at the
    * index's parameters, but the quantizer training and cell assignment
    * are READ, not recomputed (the per-invocation retraining was the one
    * staged-family asymmetry left in r7).
    */
  def semanticNearDupPairsFromIndex(
      spark: SparkSession, dir: String, threshold: Double = 0.95): DataFrame =
    cellPairScore(ScaleOut(Segments.readPart(spark, dir, "assigned")), threshold)

  /** Semantic near-dup pairs TOUCHING an increment — increment-vs-corpus
    * and increment-vs-increment, never corpus-vs-corpus — against a
    * [[writeSemanticIndex]] directory; the semantic member of the
    * incremental family (q50 exact / q70 minhash / q78 embedding-LSH /
    * q84 spans). The corpus participates only through its index: stored
    * assignments for candidate generation (column-pruned to (id, cell)),
    * stored vectors for verification, stored centroids to assign the
    * increment — nothing retrains and the corpus source is never read.
    * A pair is a candidate iff the two sides share ≥1 of their `nassign`
    * nearest cells (exactly the full audit's rule, so probe output ==
    * full run restricted to increment-touching pairs).
    */
  def incrementalSemanticNearDupPairs(
      spark: SparkSession, dir: String, increment: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95): DataFrame = {
    val (nassign, cents) = semanticCentroids(spark, dir)
    val inc = ScaleOut(increment.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val incCells = inc.select(col("id"),
      explode(nearestCells(col("vec"), cents, nassign)).as("cell"))
    semanticPairsFromKernel(spark, dir, inc, incCells, threshold)
  }

  /** Index meta + the driver-side centroid matrix (codebook-sized by
    * contract) — MEMOIZED per directory like [[minhashMeta]]: quantizer
    * state is trained at index build and never retrained on append
    * (codebook drift is the documented rebuild trigger), so a streaming
    * ingest's micro-batches must not re-launch the meta + centroid jobs
    * every trigger.
    */
  private val semanticCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Array[Array[Float]])]()

  private def semanticCentroids(
      spark: SparkSession, dir: String): (Int, Array[Array[Float]]) =
    semanticCentroidCache.computeIfAbsent(dir, { d =>
      val nassign = spark.read.parquet(s"$d/meta").head().getAs[Int]("nassign")
      val cents = spark.read.parquet(s"$d/centroids")
        .orderBy("cell").collect().map(_.getSeq[Float](1).toArray)
      (nassign, cents)
    })

  /** [[incrementalSemanticNearDupPairs]] past the cell assignment: probe
    * with ALREADY-COMPUTED increment cells, shared with the append by
    * [[semanticIngestKernel]].
    */
  private def semanticPairsFromKernel(
      spark: SparkSession, dir: String, inc: DataFrame, incCells: DataFrame,
      threshold: Double): DataFrame = {
    // base side = corpus assignments ∪ increment's own (same pair
    // semantics as the LSH probe: inc-vs-corpus in either id order,
    // inc-vs-inc deduped by id order); the increment side broadcasts,
    // the stored index streams wide
    val baseSide = ScaleOut(
        Segments.readPart(spark, dir, "assigned").select("id", "cell"))
      .withColumn("corpus", lit(true))
      .unionByName(incCells.withColumn("corpus", lit(false)))
    val candidates = broadcast(incCells.as("a")).join(baseSide.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id") &&
          (col("b.corpus") || col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val vecs = inc.unionByName(
      Segments.readPart(spark, dir, "vecs").join(inc.select("id"), Seq("id"), "left_anti"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b")), "id_b")
      .withColumn("cosine", cosineSim(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  private val semanticLayout: Segments.Layout = Seq("assigned" -> Nil, "vecs" -> Nil)

  /** The increment's (id, vec) rows and their pinned multi-assignments
    * to the STORED centroids — computed once per batch and shared by the
    * probe and the segment parts.
    */
  private def semanticFrames(increment: DataFrame, dir: String,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val (nassign, cents) = semanticCentroids(increment.sparkSession, dir)
    val v = increment.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val assigned = CacheScope.pin(
      v.select(col("id"), col("vec"),
        explode(nearestCells(col("vec"), cents, nassign)).as("cell")),
      StorageLevel.MEMORY_AND_DISK)
    (v, assigned)
  }

  /** The semantic index's ingest kernel ([[graft.streaming.IndexIngest]]):
    * a batch's assignment and vector parts plus its touching pairs
    * ([[incrementalSemanticNearDupPairs]] over the shared assignments).
    * The quantizer is NOT retrained on append: codebook drift is the
    * rebuild trigger, observable via [[semanticDrift]].
    */
  def semanticIngestKernel(
      dir: String, idCol: String, vecCol: String,
      threshold: Double): graft.streaming.IndexIngest.Kernel =
    graft.streaming.IndexIngest.Kernel(dir, semanticLayout, { batch =>
      val (v, assigned) = semanticFrames(batch, dir, idCol, vecCol)
      (Seq(assigned, v),
        semanticPairsFromKernel(batch.sparkSession, dir, ScaleOut(v),
          assigned.select("id", "cell"), threshold))
    })

  /** Persist a hyperplane-LSH near-dup index for an embedding corpus:
    * radius-0 bucket rows (`dir/buckets`: id, table, bucket), the vectors
    * themselves (`dir/vecs`: id, vec — the verification side; embeddings
    * ARE the payload, unlike the text-free MinHash index), and the
    * signature parameters (`dir/meta`, written LAST as the completion
    * marker).
    *
    * Same deployment shape as [[writeMinhashIndex]]: built once per
    * corpus state, so a daily embedding increment probes stored buckets
    * instead of re-hashing 100 TB of corpus vectors on every ingest;
    * after the ingest, append the increment's bucket/vec rows to keep the
    * index current.
    */
  def writeEmbeddingIndex(
      emb: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      planes: Int = 16, tables: Int = 16, dim: Int = 64, seed: Long = 42L): Unit = {
    val spark = emb.sparkSession
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    Ann.withBuckets(v, "vec", planes, tables, dim, seed)
      .select("id", "table", "bucket")
      .write.mode("overwrite").parquet(s"$dir/buckets")
    v.write.mode("overwrite").parquet(s"$dir/vecs")
    import spark.implicits._
    Seq((planes, tables, dim, seed)).toDF("planes", "tables", "dim", "seed")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append an increment's bucket and vector rows to a
    * [[writeEmbeddingIndex]] directory — the embedding mirror of
    * [[appendToMinhashIndex]] (same contract: parameters from meta,
    * segment-committed atomic writes, replay-safe under a caller-named
    * `seg`, caller owns id-disjointness and probe-before-append
    * ordering).
    */
  def appendToEmbeddingIndex(
      increment: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seg: Option[String] = None): Unit = CacheScope.scoped {
    val (v, _, buckets) = embeddingFrames(increment, dir, idCol, vecCol)
    Segments.append(increment.sparkSession, dir, seg, embeddingLayout, Seq(buckets, v))
  }

  /** Append an increment's cell assignments and vector rows to a
    * [[writeSemanticIndex]] directory: new vectors assign to the STORED
    * centroids (the quantizer does not retrain on an append — codebook
    * drift across a long append history is the documented rebuild
    * trigger, exactly as in IVF practice). Same append contract as
    * [[appendToMinhashIndex]].
    */
  def appendToSemanticIndex(
      increment: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seg: Option[String] = None): Unit = CacheScope.scoped {
    val (v, assigned) = semanticFrames(increment, dir, idCol, vecCol)
    Segments.append(increment.sparkSession, dir, seg, semanticLayout, Seq(assigned, v))
  }

  /** Quantizer DRIFT audit for a [[writeSemanticIndex]] directory: for
    * each increment vector, its nearest stored centroid (double-precision
    * argmin), the L2 distance, and that distance relative to the
    * meta-recorded mean assignment distance of the TRAINING corpus
    * (`drift` — ≈1 means the increment looks like the distribution the
    * codebook was trained on; sustained ≫1 means the codebook no longer
    * represents arriving data and the documented rebuild trigger for
    * [[appendToSemanticIndex]]'s no-retrain append contract has fired).
    *
    * The arithmetic is the oracle-replayable composition
    * `sqrt(max(dot(v,v) - 2*dot(v,c) + dot(c,c), 0))` ([[graft.functions
    * .expr.NearestCellDistance]], sequential double folds) — distances
    * are pure arithmetic over (vector, stored centroids), so a SQL oracle
    * recomputes them bit-exactly from centroid literals the way q22/q32
    * replay the hash kernels. The float-kernel assignment path
    * ([[graft.functions.expr.NearestCells]]) stays the index's own
    * assignment arithmetic; this is the monitoring statistic.
    *
    * Scale shape: centroids and the train mean are driver-resident KBs;
    * the increment maps once through a codegen'd projection — no shuffle,
    * no corpus read at all.
    */
  def semanticDrift(
      spark: SparkSession, dir: String, increment: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val trainMean = meta.getAs[Double]("train_mean_dist")
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().map(_.getSeq[Float](1).toArray)
    ScaleOut(increment.select(col(idCol), col(vecCol).as("vec")))
      .withColumn("nd",
        graft.functions.expr.VectorFunctions.nearestCellDistance(col("vec"), cents))
      .select(col(idCol), col("nd.cell").as("cell"),
        round(col("nd.dist"), 6).as("dist"),
        round(col("nd.dist") / lit(trainMean), 6).as("drift"))
  }

  /** Embedding near-dup pairs TOUCHING an increment — increment-vs-corpus
    * and increment-vs-increment, never corpus-vs-corpus — against a
    * [[writeEmbeddingIndex]] directory. The corpus participates only
    * through its index (stored buckets for candidate generation, stored
    * vectors for exact-cosine verification of candidates); its source
    * table is never read and its signatures never recompute. Parameters
    * come from the index meta, so probe and build cannot disagree.
    * Multi-probe runs on the increment side only (probing one join side
    * pairs any signatures within the probe radius).
    *
    * Increment ids must be disjoint from corpus ids (the ingest
    * invariant); an id present in both resolves in the increment's favor.
    * Output matches [[embeddingNearDupLsh]] restricted to pairs with at
    * least one increment member: (id_a < id_b, exact cosine >= threshold).
    *
    * Parallelism: BOTH the increment and the streamed base side pass
    * through [[ScaleOut]]. The candidate join streams `baseSide` against
    * the broadcast probe signatures, and the join's output (plus the
    * partial-distinct aggregation above it) materializes IN the streamed
    * side's partitions — a small increment read as 1-2 parquet splits
    * would serialize millions of candidate rows onto 2 cores (the r7
    * bench's 3.5 s two-task stages; elevated and load-sensitive precisely
    * because 2-way stages have no headroom). At 100 TB the corpus bucket
    * scan arrives wide on its own and the widen is a no-op.
    */
  def incrementalEmbeddingNearDupPairs(
      spark: SparkSession, dir: String, increment: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, probeRadius: Int = 1): DataFrame = {
    val (planes, tables, dim, seed) = embeddingMeta(spark, dir)
    val inc = ScaleOut(increment.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val incBase = Ann.withBuckets(inc, "vec", planes, tables, dim, seed)
      .select("id", "table", "bucket")
    embeddingPairsFromKernel(spark, dir, inc, incBase, threshold, probeRadius)
  }

  /** Memoized like [[minhashMeta]] (written once at build, immutable
    * under appends — the streaming ingest must not pay a per-batch
    * one-row parquet job for it).
    */
  private val embeddingMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int, Long)]()

  private def embeddingMeta(spark: SparkSession, dir: String): (Int, Int, Int, Long) =
    embeddingMetaCache.computeIfAbsent(dir, { d =>
      val meta = spark.read.parquet(s"$d/meta").head()
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    })

  /** [[incrementalEmbeddingNearDupPairs]] past the radius-0 signatures:
    * probe with an ALREADY-COMPUTED base bucket frame, so the streaming
    * ingest ([[embeddingIngestKernel]]) shares it with the segment append
    * instead of hashing the batch twice.
    */
  private def embeddingPairsFromKernel(
      spark: SparkSession, dir: String, inc: DataFrame, incBase: DataFrame,
      threshold: Double, probeRadius: Int): DataFrame = {
    val (planes, tables, dim, seed) = embeddingMeta(spark, dir)
    val incProbed = Ann.withBuckets(inc, "vec", planes, tables, dim, seed, probeRadius)
      .select("id", "table", "bucket")
    // base side = corpus buckets ∪ increment's radius-0 buckets; the
    // `corpus` flag keeps pair semantics straight (inc-vs-corpus in either
    // id order, inc-vs-inc deduped by id order). The increment side
    // broadcasts; the stored index is the big, streamed side — widened
    // (see scaladoc) because candidate volume lands in ITS partitions.
    val baseSide = ScaleOut(Segments.readPart(spark, dir, "buckets"))
      .withColumn("corpus", lit(true))
      .unionByName(incBase.withColumn("corpus", lit(false)))
    val candidates = broadcast(incProbed.as("a")).join(baseSide.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id") && (col("b.corpus") || col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // verification vectors: the increment's own, plus the stored corpus
    // vectors (increment wins on an id collision via the anti-join)
    val vecs = inc.unionByName(
      Segments.readPart(spark, dir, "vecs").join(inc.select("id"), Seq("id"), "left_anti"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b")), "id_b")
      .withColumn("cosine", cosineSim(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  private val embeddingLayout: Segments.Layout = Seq("buckets" -> Nil, "vecs" -> Nil)

  /** The increment's (id, vec) rows, their widened form ([[ScaleOut]]),
    * and their pinned radius-0 bucket rows at the index's meta parameters
    * — computed once per batch and shared by the probe and the segment
    * parts.
    */
  private def embeddingFrames(increment: DataFrame, dir: String,
      idCol: String, vecCol: String): (DataFrame, DataFrame, DataFrame) = {
    val (planes, tables, dim, seed) = embeddingMeta(increment.sparkSession, dir)
    val v = increment.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val inc = ScaleOut(v)
    val buckets = CacheScope.pin(
      Ann.withBuckets(inc, "vec", planes, tables, dim, seed)
        .select("id", "table", "bucket"),
      StorageLevel.MEMORY_AND_DISK)
    (v, inc, buckets)
  }

  /** The embedding index's ingest kernel ([[graft.streaming.IndexIngest]]):
    * a batch's bucket and vector parts plus its touching pairs
    * ([[incrementalEmbeddingNearDupPairs]] at probe radius 1 over the
    * shared radius-0 buckets).
    */
  def embeddingIngestKernel(
      dir: String, idCol: String, vecCol: String,
      threshold: Double): graft.streaming.IndexIngest.Kernel =
    graft.streaming.IndexIngest.Kernel(dir, embeddingLayout, { batch =>
      val (v, inc, buckets) = embeddingFrames(batch, dir, idCol, vecCol)
      (Seq(buckets, v),
        embeddingPairsFromKernel(batch.sparkSession, dir, inc, buckets,
          threshold, probeRadius = 1))
    })
}
