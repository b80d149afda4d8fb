package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables.table
import graft.functions.TextFunctions.{canonicalUrl, tokens}
import graft.operators.CacheScope

/** q131 — the END-TO-END training-data materialization: one gated query
  * composing the staged pipeline operators into the artifact the whole
  * engine exists to produce. Over `documents`:
  *
  *   1. exact + near-dup dedup (staged q43 keep-list; representatives
  *      survive),
  *   2. repeated-span strip (staged q82/q86 full-corpus span index —
  *      ownership precomputed, the strip is a per-doc pure function),
  *   3. Gopher rule filter on the STRIPPED text (q124's site bounds),
  *   4. trained-classifier keep on the stripped text (staged q118
  *      model — train-once/score-many),
  *   5. URL canonicalization carried as provenance (q119's synthesis),
  *   6. sqrt-temperature mixture over the SURVIVING corpus, grouped by
  *      lang (q129's rule — weights derive from post-filter counts, the
  *      order a real pipeline uses),
  *   7. per-doc token counts under the staged distributed-BPE model
  *      (q121's tokenizer driving q54's packing),
  *   8. token-budget sequence packing per lang over (doc_id, copy),
  *   9. content-addressed shard export ([[graft.sources.Export]], md5
  *      shard rule) — and the RESULT IS THE READ-BACK of the exported
  *      shards, so the gate proves the on-disk artifact round-trips.
  *
  * The oracle is GENERATED (q118/q121 pattern: the staged BPE merges and
  * classifier weights become SQL literals) and composes the stages'
  * existing SQL fragments — the keep-list closure, the span strip, the
  * Gopher/classifier/URL chains, the mixture and packing rules, and the
  * md5 shard rule — into ONE DuckDB statement. Every stage already
  * carries its own hash-green oracle; this gate is the INTEROP proof
  * (staging, model reuse, kernel chaining) 128 isolated queries cannot
  * give.
  *
  * Scale shape: no new operator — each stage keeps its audited plan
  * (id-keyed joins onto the documents scan, map-side kernels, broadcast
  * weight tables, one window shuffle for packing keyed by the mixture's
  * parallel unit, one shard exchange for export). The only driver-side
  * state is what the stages already collect by contract (mixture weight
  * table, staged model literals).
  */
object MaterializeQueries extends QueryFamily {

  /** Token budget per packed bin — sized so the ~25-word stripped docs
    * (tens of BPE pieces each) yield several docs per bin and several
    * bins per lang at the verify SF.
    */
  private val packBudget = 512L

  /** Shard count for the export (md5Shard folds one hex byte; 8 keeps
    * multiple rows per shard at the verify SF).
    */
  private val numShards = 8

  /** Classifier operating point in micro-units: keep iff mean gram
    * weight >= theta (between the measured en (~-47k) and non-en
    * (~-57k) means; near the corpus median, so the gate actually
    * filters). See the stage-4 comment for why 0.5 is degenerate here.
    */
  private val clfThetaMicro = -53000L

  // generated at query time: the oracle embeds the staged models'
  // learned state as SQL literals (q39/q111/q118 pattern)
  @volatile private var matOracle131: Option[() => String] = None
  @volatile private var matOracle209: Option[() => String] = None

  /** The CORPUS-side materialization state (the "previous run's"
    * artifact an incremental run maintains): per source state,
    *
    *   - `ledger/` — one row per corpus document that survives the
    *     corpus-only pipeline (corpus-only keep-list closure → corpus
    *     span-index strip → Gopher → classifier): (doc_id, lang,
    *     source, text [stripped], n_pieces). This is the per-doc
    *     bookkeeping a real deployment keeps beside its shards — the
    *     increment run derives mixture weights and per-lang packing
    *     offsets from it without ever re-reading corpus text.
    *   - `shards/` — the corpus-only export (mixture + packing over the
    *     ledger, md5-sharded), the on-disk store q209 APPENDS to.
    *
    * Models are the STAGED full-table classifier/BPE (train-once,
    * score-increments — the deployment contract; also what makes the
    * from-scratch oracle's model state and the increment run's agree).
    * The corpus-only strip equals the full-corpus strip restricted to
    * corpus docs: an increment occurrence can only make a corpus window
    * repeated with the corpus doc as owner (owners keep their copy), so
    * corpus text never changes when an increment arrives.
    */
  private def stagedCorpusMatDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_mat_corpus",
      Seq(s"$dir/documents.parquet"),
      s"corpus${DedupQueries.corpusSplit}:$packBudget:$numShards:$clfThetaMicro:v1",
      "_SUCCESS") { stage =>
      graft.operators.CacheScope.scoped {
        val split = DedupQueries.corpusSplit
        val docs = table(s, dir, "documents").filter(col("doc_id") < split)
        val groups = s.read.parquet(DedupQueries.stagedCorpusKeepListDir(s, dir))
        val survivors = docs
          .join(groups, docs("doc_id") === groups("member_id"), "left")
          .filter(coalesce(col("keep_id"), docs("doc_id")) === docs("doc_id"))
          .select(docs("doc_id"), col("lang"), col("source"), col("text"))
        val stripped = graft.operators.Spans.stripRepeatedSpans(
            s, DedupQueries.stagedSpanCorpusIndexDir(s, dir), survivors)
          .select(col("doc_id"), col("clean_text"))
        val strip = CacheScope.pin(
          survivors.drop("text")
            .join(stripped, Seq("doc_id"))
            .withColumnRenamed("clean_text", "text"),
          StorageLevel.MEMORY_AND_DISK)
        val gKeep = graft.operators.Gopher.metrics(strip,
            minWords = 10, minStopwords = 1)
          .filter(col("keep")).select("doc_id")
        val clf = graft.operators.QualityClassifier.load(
          s, TextQueries.stagedClfModelDir(s, dir))
        val cKeep = graft.operators.QualityClassifier
          .keepAt(strip, clf, clfThetaMicro)
          .filter(col("keep")).select("doc_id")
        val kept = strip.join(gKeep, Seq("doc_id")).join(cKeep, Seq("doc_id"))
        val bpe = graft.operators.Bpe.load(s, TextQueries.stagedBpeModelDir(s, dir))
        kept.join(piecesOf(kept, bpe), Seq("doc_id"), "left")
          .withColumn("n_pieces", coalesce(col("n_pieces"), lit(0L)))
          .select("doc_id", "lang", "source", "text", "n_pieces")
          .write.mode("overwrite").parquet(s"$stage/ledger")
        val led = s.read.parquet(s"$stage/ledger")
        if (!led.isEmpty)
          graft.sources.Export.writeShardedBy(packRows(led), s"$stage/shards",
            numShards, shardRule, sortCols = Seq("doc_id", "copy"))
        // top-level marker LAST (the ledger/shards writes above create
        // only their own per-directory markers)
        val fs = new org.apache.hadoop.fs.Path(stage)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.create(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"), true).close()
      }
    }

  override def stages: Map[String, (SparkSession, String) => String] = Map(
    "mat_corpus_state" -> (stagedCorpusMatDir _))

  override def traits: Map[String, Set[QueryTrait]] = QueryTrait.of(
    QueryTrait.Heavy -> Seq("q131_materialize_training", "q209_materialize_incremental"),
    QueryTrait.Paced -> Seq("q131_materialize_training", "q209_materialize_incremental"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_materialize_training" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // 1. dedup: the staged keep-list maps members to representatives;
      // singletons are absent (keep themselves) — survivors are the
      // docs that ARE their group's representative
      val groups = s.read.parquet(DedupQueries.stagedKeepListDir(s, dir))
      val survivors = docs
        .join(groups, docs("doc_id") === groups("member_id"), "left")
        .filter(coalesce(col("keep_id"), docs("doc_id")) === docs("doc_id"))
        .select(docs("doc_id"), col("lang"), col("source"), col("text"))
      // 2. strip repeated spans (staged full-corpus index: ownership =
      // corpus-min doc, so restricting the input to survivors changes
      // nothing about WHAT is stripped from each)
      val stripped = graft.operators.Spans.stripRepeatedSpans(
          s, DedupQueries.stagedSpanIndexDir(s, dir), survivors)
        .select(col("doc_id"), col("clean_text"))
      // the stripped frame feeds four consumers (Gopher, classifier,
      // BPE counts, final assembly) — pin it
      val strip = CacheScope.pin(
        survivors.drop("text")
          .join(stripped, Seq("doc_id"))
          .withColumnRenamed("clean_text", "text"),
        StorageLevel.MEMORY_AND_DISK)
      // 3. Gopher rules on the stripped text (q124's site bounds)
      val gKeep = graft.operators.Gopher.metrics(strip,
          minWords = 10, minStopwords = 1)
        .filter(col("keep")).select("doc_id")
      // 4. trained classifier keep (staged model) at the corpus
      // OPERATING POINT: the synthetic corpus's en/other separation is
      // weak enough that the absolute 0.5 rule (q118's keep) keeps
      // nothing, while the relative ordering still discriminates
      // (measured: en mean gram weight ~-47k micro vs ~-57k for the
      // rest) — so the gate keeps docs whose mean gram weight clears
      // clfThetaMicro, the threshold a real deployment tunes on
      // held-out data. Exact integer arithmetic, oracle-replayed.
      val clf = graft.operators.QualityClassifier.load(
        s, TextQueries.stagedClfModelDir(s, dir))
      val cKeep = graft.operators.QualityClassifier.keepAt(strip, clf, clfThetaMicro)
        .filter(col("keep")).select("doc_id")
      val kept = CacheScope.pin(
        strip
          .join(gKeep, Seq("doc_id"))
          .join(cKeep, Seq("doc_id")),
        StorageLevel.MEMORY_AND_DISK)
      // 7. per-doc BPE piece counts under the staged distributed model
      // (map-side compiled kernel per word occurrence + one doc-keyed
      // map-combined sum — no distinct-word shuffle needed)
      val bpe = graft.operators.Bpe.load(s, TextQueries.stagedBpeModelDir(s, dir))
      val pieces = piecesOf(kept, bpe)
      // both staged models are loaded — capture the composed oracle
      matOracle131 = Some(capturedOracle(materializeSql(bpe, clf)))
      // a corpus the gates fully filter out (the sf0.001 robustness
      // case: 50 docs, tiny-sample models) materializes to an EMPTY
      // shard set — the mixture needs >= 1 group and the partitioned
      // write leaves nothing to read back, so short-circuit (the
      // oracle's composed SQL yields zero rows for the same corpus).
      // GATE + WEIGHTS IN ONE ACTION (r19 verdict #2 / §2.6 "fewer
      // actions"): the mixture's own per-lang count collect doubles as
      // the emptiness gate — and unlike the limit-1 isEmpty probe it
      // replaces, the full aggregate warms the pinned `kept` cache
      // whole, so the export pass reads memory instead of re-deriving
      // the tail partitions
      val langCounts = graft.operators.Mixture.groupCounts(kept, "lang")
      if (langCounts.isEmpty)
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outputSchema)
      else
        materialize(s, dir, kept, pieces,
          graft.operators.Mixture.weightsFromCounts(langCounts))
    }),

    // q209 — the INCREMENTAL twin of q131 (the missing integration
    // proof of the incremental family): the doc_id >= corpusSplit
    // increment flows through the staged corpus state without the
    // corpus ever re-reading its text —
    //   dedup    : q91's merged keep-list (staged corpus closure +
    //              minhash-index probe pairs; a bridge via the increment
    //              can demote a corpus representative, so the CORPUS
    //              ledger is re-filtered through the merged closure too)
    //   strip    : [[Spans.stripIncrement]] against the corpus span
    //              index (corpus text provably unchanged — owners keep)
    //   gates    : the staged classifier + Gopher on the stripped text
    //   mixture  : weights RE-DERIVED from corpus+increment kept counts
    //              (ledger + increment); the increment resamples, the
    //              corpus contributes per-lang packing offsets through
    //              [[Mixture.copyCounts]] — counts, never copy rows
    //   export   : APPEND beside the staged corpus shards (old shards
    //              never rewritten); result = read-back of the combined
    //              store restricted to increment rows.
    // Oracle: the SAME composed from-scratch q131 statement over
    // corpus+increment with the final SELECT restricted to increment
    // doc_ids — incremental maintenance must be INVISIBLE in the output
    "q209_materialize_incremental" -> ((s, dir) => {
      val split = DedupQueries.corpusSplit
      val docs = table(s, dir, "documents")
      val inc = docs.filter(col("doc_id") >= split)
      val stateDir = stagedCorpusMatDir(s, dir)
      // merged keep-list (q91 shape) — two consumers: increment
      // survivors + the corpus-ledger re-filter
      val merged = CacheScope.pin(
        graft.operators.Dedup.incrementalKeepList(
          s.read.parquet(DedupQueries.stagedCorpusKeepListDir(s, dir)),
          graft.operators.Dedup.incrementalNearDupPairs(
            s, DedupQueries.stagedMinhashIndexDir(s, dir), inc,
            threshold = DedupQueries.jaccardThreshold)),
        StorageLevel.MEMORY_AND_DISK)
      val incSurv = inc
        .join(merged, inc("doc_id") === merged("member_id"), "left")
        .filter(coalesce(col("keep_id"), inc("doc_id")) === inc("doc_id"))
        .select(inc("doc_id"), col("lang"), col("source"))
      // strip the WHOLE increment (df parity with the full-table
      // index: non-survivors count toward window df), keep survivors
      val incStripped = graft.operators.Spans.stripIncrement(
          s, DedupQueries.stagedSpanCorpusIndexDir(s, dir), inc)
        .select(col("doc_id"), col("clean_text"))
      val strip = CacheScope.pin(
        incSurv.join(incStripped, Seq("doc_id"))
          .withColumnRenamed("clean_text", "text"),
        StorageLevel.MEMORY_AND_DISK)
      val gKeep = graft.operators.Gopher.metrics(strip,
          minWords = 10, minStopwords = 1)
        .filter(col("keep")).select("doc_id")
      val clf = graft.operators.QualityClassifier.load(
        s, TextQueries.stagedClfModelDir(s, dir))
      val cKeep = graft.operators.QualityClassifier
        .keepAt(strip, clf, clfThetaMicro)
        .filter(col("keep")).select("doc_id")
      val kept = CacheScope.pin(
        strip.join(gKeep, Seq("doc_id")).join(cKeep, Seq("doc_id")),
        StorageLevel.MEMORY_AND_DISK)
      val bpe = graft.operators.Bpe.load(s, TextQueries.stagedBpeModelDir(s, dir))
      val pieces = piecesOf(kept, bpe)
      matOracle209 = Some(capturedOracle(
        materializeSql(bpe, clf, finalWhere = s"WHERE p.doc_id >= $split")))
      // corpus side: the staged ledger re-filtered through the MERGED
      // closure (ledger-sized; no text)
      val ledger = s.read.parquet(s"$stateDir/ledger")
      val corpusKept = ledger
        .join(merged, ledger("doc_id") === merged("member_id"), "left")
        .filter(coalesce(col("keep_id"), ledger("doc_id")) === ledger("doc_id"))
        .select(ledger("doc_id"), col("lang"), col("n_pieces"))
      // GATE + MIXTURE WEIGHTS IN ONE ACTION (r19 verdict #2 / §2.6
      // "fewer actions"): one (lang, side) count over corpus ∪ increment
      // replaces the increment-side limit-1 isEmpty probe AND the
      // separate combined-population weight aggregate — the increment
      // side's presence is the emptiness gate, the lang sums are exactly
      // the counts sqrtTemperatureWeights would have collected over the
      // same union, and the full aggregate warms every pinned frame the
      // probe only partially touched
      val sideCounts = corpusKept.select(col("lang"), lit(false).as("_inc"))
        .unionByName(kept.select(col("lang"), lit(true).as("_inc")))
        .groupBy("lang", "_inc").count().collect().toSeq
      incrementWeights(sideCounts) match {
        case Some(w) => materializeIncrement(s, dir, stateDir, kept, pieces, corpusKept, w)
        case None => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outputSchema)
      }
    }))

  /** q209's gate over its (lang, is-increment, count) rows: the mixture
    * weights of the per-lang sums over corpus and increment, or None when
    * the increment has no rows. A NULL lang fails fast even when the
    * increment is empty: a corpus that cannot be mixed is a loud failure,
    * not an empty result.
    */
  private[queries] def incrementWeights(
      sideCounts: Seq[org.apache.spark.sql.Row]): Option[Map[String, Double]] = {
    sideCounts.foreach(r => require(!r.isNullAt(0),
      "temperature mixture: 'lang' contains NULL — a mixture group " +
        "needs a non-null key; filter or coalesce upstream"))
    Option.when(sideCounts.exists(_.getBoolean(1)))(
      graft.operators.Mixture.weightsFromCounts(
        sideCounts.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toSeq))
  }

  /** q209 stages 6-9: weights from corpus+increment (pre-collected by
    * the caller's gate action), increment-only resample, corpus per-lang
    * offsets, APPEND export + read-back.
    */
  private def materializeIncrement(
      s: SparkSession, dir: String, stateDir: String,
      kept: DataFrame, pieces: DataFrame, corpusKept: DataFrame,
      weights: Map[String, Double]): DataFrame = {
    val split = DedupQueries.corpusSplit
    val copies = graft.operators.Mixture.resample(
        kept.select(col("doc_id"), col("lang")), weights,
        groupCol = "lang", salt = "mat")
      .select(col("doc_id"), col("copy"))
    // per-lang packing offsets: corpus rows precede increment rows in
    // every lang's (doc_id, copy) order, so the corpus contributes one
    // scalar per lang — Σ n_pieces · n_copies under the NEW weights
    // (copy counts re-derived from the ledger, no explode, no text)
    val baseOff = graft.operators.Mixture.copyCounts(
        corpusKept, weights, groupCol = "lang", salt = "mat")
      .groupBy("lang")
      .agg(sum(col("n_pieces") * col("n_copies")).as("base"))
    val enriched = kept
      .join(pieces, Seq("doc_id"), "left")
      .withColumn("n_pieces", coalesce(col("n_pieces"), lit(0L)))
      .withColumn("url_canon",
        canonicalUrl(TextQueries.dirtyUrl(col("doc_id"), col("source"))))
    val w = Window.partitionBy("lang").orderBy("doc_id", "copy")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = copies.join(enriched, Seq("doc_id"))
      .join(broadcast(baseOff), Seq("lang"), "left")
      .withColumn("bin",
        floor((coalesce(col("base"), lit(0L))
          + sum("n_pieces").over(w) - col("n_pieces")) / packBudget)
          .cast("long"))
      .select("doc_id", "copy", "lang", "url_canon", "n_pieces", "bin", "text")
    // 9. APPEND into a per-run copy of the corpus store, then read the
    // COMBINED store back restricted to the increment — proving the
    // append landed in the right shards without rewriting old ones
    val exp = Scratch.freshDir(s, "q209", dir)
    val conf = s.sessionState.newHadoopConf()
    val shards = new org.apache.hadoop.fs.Path(s"$stateDir/shards")
    val fs = shards.getFileSystem(conf)
    if (fs.exists(shards))
      org.apache.hadoop.fs.FileUtil.copy(fs, shards, fs,
        new org.apache.hadoop.fs.Path(exp), false, conf)
    graft.sources.Export.writeShardedBy(rows, exp, numShards, shardRule,
      sortCols = Seq("doc_id", "copy"), mode = "append")
    s.read.parquet(exp)
      .filter(col("doc_id") >= split)
      .select(col("doc_id"), col("copy"), col("lang"), col("url_canon"),
        col("n_pieces"), col("bin"), col("shard").cast("long").as("shard"),
        col("text"))
      .orderBy("doc_id", "copy")
  }

  /** The result schema (the empty-corpus short-circuit's frame). */
  private lazy val outputSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("copy", LongType),
      StructField("lang", StringType), StructField("url_canon", StringType),
      StructField("n_pieces", LongType), StructField("bin", LongType),
      StructField("shard", LongType), StructField("text", StringType)))
  }

  /** Per-doc BPE piece counts under a staged model (map-side compiled
    * kernel per word occurrence + one doc-keyed map-combined sum).
    */
  private def piecesOf(kept: DataFrame, bpe: graft.operators.Bpe.Model): DataFrame =
    kept
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"),
        size(graft.functions.expr.BpeFunctions.bpeEncode(col("word"), bpe))
          .cast("long").as("np"))
      .groupBy("doc_id").agg(sum("np").as("n_pieces"))

  /** Stages 5/6/8 over a per-doc frame carrying (doc_id, lang, source,
    * text, n_pieces): sqrt-temperature mixture (weights from the frame's
    * own lang counts, or a caller-collected `weights` table when the
    * caller's emptiness gate already paid the count action — same τ=1/2
    * rule either way, [[graft.operators.Mixture.weightsFromCounts]]),
    * provenance URL, and token-budget packing — the pre-export row set.
    * Shared by q131 and the staged corpus-state build so the two runs'
    * packing algebra cannot drift.
    */
  private def packRows(
      perDoc: DataFrame,
      weights: Option[Map[String, Double]] = None): DataFrame = {
    // 6. sqrt-temperature mixture over the surviving corpus
    val w6 = weights.getOrElse(graft.operators.Mixture.sqrtTemperatureWeights(
      perDoc.select(col("doc_id"), col("lang")), groupCol = "lang"))
    val copies = graft.operators.Mixture.resample(
        perDoc.select(col("doc_id"), col("lang")), w6,
        groupCol = "lang", salt = "mat")
      .select(col("doc_id"), col("copy"))
    // 5 + assembly: provenance URL onto the kept docs
    val enriched = perDoc
      .withColumn("url_canon",
        canonicalUrl(TextQueries.dirtyUrl(col("doc_id"), col("source"))))
    // 8. pack: bin = the fixed-size token window the doc's START
    // offset falls in, per lang over (doc_id, copy) order (q54's rule
    // over the RESAMPLED stream)
    val w = Window.partitionBy("lang").orderBy("doc_id", "copy")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    copies.join(enriched, Seq("doc_id"))
      .withColumn("bin",
        floor((sum("n_pieces").over(w) - col("n_pieces")) / packBudget)
          .cast("long"))
      .select("doc_id", "copy", "lang", "url_canon", "n_pieces", "bin", "text")
  }

  /** The content-addressed md5 shard rule over (doc_id, copy). */
  private def shardRule: org.apache.spark.sql.Column =
    graft.sources.Export.md5Shard(
      concat(col("doc_id").cast("string"), lit(":"), col("copy").cast("string")),
      numShards)

  /** Stages 6-9 over a non-empty kept set (see [[queries]]); `weights`
    * comes pre-collected from the caller's gate action.
    */
  private def materialize(
      s: SparkSession, dir: String, kept: DataFrame,
      pieces: DataFrame, weights: Map[String, Double]): DataFrame = {
      val rows = packRows(kept
        .join(pieces, Seq("doc_id"), "left")
        .withColumn("n_pieces", coalesce(col("n_pieces"), lit(0L))),
        Some(weights))
      // 9. content-addressed shard export + READ-BACK: the query's
      // result rows come from the exported parquet itself
      val exp = Scratch.freshDir(s, "q131", dir)
      graft.sources.Export.writeShardedBy(rows, exp, numShards, shardRule,
        sortCols = Seq("doc_id", "copy"))
      s.read.parquet(exp)
        .select(col("doc_id"), col("copy"), col("lang"), col("url_canon"),
          col("n_pieces"), col("bin"), col("shard").cast("long").as("shard"),
          col("text"))
        .orderBy("doc_id", "copy")
  }

  /** The composed DuckDB twin, generated from the staged models. CTE
    * names are disjoint across the spliced stage fragments; the
    * [[HashOracleSql.fnvFmixCtes]] hash chain appears exactly once (the
    * classifier — its one consumer here).
    */
  private def materializeSql(
      bpe: graft.operators.Bpe.Model,
      clf: graft.operators.QualityClassifier.Model,
      finalWhere: String = ""): String = {
    val spanK = DedupQueries.spanK
    val gram8 = (0 until spanK).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH RECURSIVE
        ${DedupQueries.groupsCtes},
        surv AS (
          SELECT d.doc_id, d.lang, d.source
          FROM documents d JOIN keeps k ON k.doc_id = d.doc_id AND k.keep_id = d.doc_id),
        w8 AS (
          SELECT doc_id, i AS pos, $gram8 AS sh8
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${spanK - 1})) AS i) u
          WHERE LEN(t) >= $spanK),
        rep8 AS (
          SELECT sh8, MIN(doc_id) AS owner FROM w8
          GROUP BY sh8 HAVING COUNT(DISTINCT doc_id) >= 2),
        hits8 AS (
          SELECT w.doc_id, w.pos FROM w8 w
          JOIN rep8 r ON r.sh8 = w.sh8 AND w.doc_id <> r.owner),
        removed AS (
          SELECT DISTINCT doc_id, pos + off AS tpos
          FROM hits8, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, ${spanK - 1})) AS off) o),
        tokp AS (
          SELECT doc_id, i AS tpos, t[i] AS token
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t))) AS i) u),
        keptt AS (
          SELECT k.doc_id, k.tpos, k.token FROM tokp k
          WHERE NOT EXISTS (SELECT 1 FROM removed r
                            WHERE r.doc_id = k.doc_id AND r.tpos = k.tpos)),
        sagg AS (
          SELECT doc_id, STRING_AGG(token, ' ' ORDER BY tpos) AS clean_text
          FROM keptt GROUP BY doc_id),
        strip AS (
          SELECT s.doc_id, s.lang, s.source, COALESCE(a.clean_text, '') AS text
          FROM surv s LEFT JOIN sagg a USING (doc_id)),
        ${TextQueries.gopherRuleCtes("strip")},
        gkeep AS (SELECT doc_id FROM gr WHERE ${TextQueries.gopherKeepSql}),
        ${TextQueries.clfCtes(clf, "strip")},
        ckeep AS (SELECT doc_id FROM cagg
                  WHERE ng > 0 AND dot >= $clfThetaMicro * ng),
        kept2 AS (
          SELECT st.* FROM strip st
          JOIN gkeep USING (doc_id) JOIN ckeep USING (doc_id)),
        ${TextQueries.urlCanonCtes("kept2")},
        mc AS (SELECT lang, COUNT(*) AS n FROM kept2 GROUP BY lang),
        mmx AS (SELECT MAX(n) AS nmax FROM mc),
        mw AS (SELECT lang,
                      GREATEST(CAST(FLOOR(SQRT(n::DOUBLE / nmax) * 256) AS BIGINT), 1) AS kk
               FROM mc CROSS JOIN mmx),
        mnn AS (SELECT d.doc_id, d.lang,
                       (kk // 256) + CASE WHEN kk % 256 > 0
                             AND SUBSTR(MD5(CAST(d.doc_id AS VARCHAR) || ':mat'), 1, 2)
                                 <= printf('%02x', kk % 256 - 1)
                           THEN 1 ELSE 0 END AS ncop
                FROM kept2 d JOIN mw USING (lang)),
        copies AS (SELECT doc_id, lang, CAST(c AS BIGINT) AS copy
                   FROM mnn, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, ncop)) AS c) u
                   WHERE ncop > 0),
        bw AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM kept2),
        bwc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM bw WHERE word <> '' GROUP BY 1, 2),
        uw AS (SELECT DISTINCT word FROM bwc),
        benc AS (
          SELECT word,
                 LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(word)),
                   i -> SUBSTRING(word, i, 1)) AS syms,
                 0 AS it
          FROM uw
          UNION ALL
          SELECT word, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:], it + 1
          FROM (
            SELECT word, syms, it,
                   LIST_POSITION(rk, LIST_MIN(rk)) AS bi, LIST_MIN(rk) AS mn
            FROM (
              SELECT word, syms, it,
                     LIST_TRANSFORM(GENERATE_SERIES(1, LEN(syms) - 1),
                       i -> CASE syms[i] || CHR(1) || syms[i+1]
                              ${TextQueries.bpeRankCase(bpe)} ELSE 1000000 END) AS rk
              FROM benc)
          ) WHERE mn < 1000000),
        bfin AS (
          SELECT word, syms,
                 ROW_NUMBER() OVER (PARTITION BY word ORDER BY it DESC) AS rn
          FROM benc),
        wp AS (SELECT word, LEN(syms) AS np FROM bfin WHERE rn = 1),
        npieces AS (
          SELECT b.doc_id, CAST(SUM(b.cnt * wp.np) AS BIGINT) AS n_pieces
          FROM bwc b JOIN wp USING (word) GROUP BY 1),
        prow AS (
          SELECT c.doc_id, c.copy, c.lang, COALESCE(np.n_pieces, 0) AS n_pieces
          FROM copies c LEFT JOIN npieces np USING (doc_id)),
        pbin AS (
          SELECT doc_id, copy, lang, n_pieces,
                 CAST(FLOOR((SUM(n_pieces) OVER (PARTITION BY lang ORDER BY doc_id, copy
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_pieces)
                   / $packBudget) AS BIGINT) AS bin
          FROM prow),
        sh2 AS (
          SELECT *, MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)) AS h
          FROM pbin)
        SELECT p.doc_id, p.copy, p.lang, u.url_canon, p.n_pieces, p.bin,
               CAST(((STRPOS('0123456789abcdef', SUBSTR(p.h, 1, 1)) - 1) * 16
                   + (STRPOS('0123456789abcdef', SUBSTR(p.h, 2, 1)) - 1))
                   % $numShards AS BIGINT) AS shard,
               k.text
        FROM sh2 p
        JOIN kept2 k USING (doc_id)
        JOIN urlc u USING (doc_id)
        $finalWhere
        ORDER BY doc_id, copy"""
  }

  def oracleSql: Map[String, String] =
    (matOracle131.map(f => "q131_materialize_training" -> f()) ++
      matOracle209.map(f => "q209_materialize_incremental" -> f())).toMap
}
