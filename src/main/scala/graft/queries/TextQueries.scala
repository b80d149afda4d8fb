package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.TextFunctions._
import graft.functions.expr.HashFunctions.rollingFingerprint

/** Text-analysis query surface over `documents`: language ID, quality
  * scoring, token counting, fingerprinting (SURVEY §7.5 "text analysis"),
  * plus q40 — the end-to-end curation pipeline a training-data run
  * composes from those pieces (exact dedup -> language filter -> quality
  * floor -> token-count bounds). Everything except the rolling-hash
  * fingerprint (custom kernel) has a DuckDB oracle built from the same
  * formulas.
  */
object TextQueries extends QueryFamily {

  override def traits: Map[String, Set[QueryTrait]] = QueryTrait.of(
    QueryTrait.Heavy -> Seq("q152_tfidf_cosine_topk", "q212_kneser_ney_trigram"),
    QueryTrait.Stream -> Seq("q113_token_percentiles_sketch_stream",
      "q116_heavy_hitters_cms_stream", "q128_kmv_distinct_stream", "q215_dsir_counts_stream",
      "q220_dsir_select_stream"),
    QueryTrait.Paced -> Seq("q220_dsir_select_stream"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_text_langid" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "q29_text_quality" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_obs"),
          tokenCountWs(col("text")).as("n_tokens"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
          qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // Gopher-style rule filter ([[graft.operators.Gopher]]) — the cheap
    // first rung of the quality ladder (before q89/q97/q114's corpus-LM
    // scores and q118's trained classifier): auditable word-level
    // metrics + a composite keep verdict, one scan, zero shuffle. Word
    // bounds at the query site fit THIS corpus's ~25-word documents
    // (operator defaults carry the published 50..100k bounds);
    // minStopwords=1 because the synthetic vocabulary is technical
    "q124_gopher_rules" -> ((s, dir) =>
      graft.operators.Gopher.metrics(table(s, dir, "documents"),
          minWords = 10, minStopwords = 1)
        .orderBy("doc_id")),

    // Unicode script detection ([[graft.functions.TextFunctions
    // .dominantScript]]) — the mC4-family script-ID step, distinct from
    // q28's language ID (script is the writing system, language the
    // vocabulary). The corpus is ASCII, so mixed-script text is
    // SYNTHESIZED deterministically per row (the q119 pattern): four of
    // five residue classes truncate the latin body and append a
    // repeated native-script phrase, so dominance actually varies and
    // every range is exercised. BMP-only ranges keep Spark's UTF-16
    // length and DuckDB's codepoint LENGTH equal
    "q125_text_script" -> ((s, dir) => {
      val t2 = scriptMixedText(col("doc_id"), col("text"))
      val counts = graft.functions.TextFunctions.scriptCounts(t2)
        .map { case (name, c) => c.as(s"n_$name") }
      table(s, dir, "documents")
        .select((col("doc_id") +: counts :+
          graft.functions.TextFunctions.dominantScript(t2).as("script")): _*)
        .orderBy("doc_id")
    }),

    "q30_text_tokens" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          tokenCountWs(col("text")).as("n_ws_tokens"),
          tokenCountRegex(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    "q31_fingerprint_md5" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), contentFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // winnowing rolling-hash kernel; full bit-exact DuckDB twin (see
    // the oracle's comment)
    "q32_fingerprint_rolling" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          rollingFingerprint(tokens(col("text")), window = 5).as("fingerprint"))
        .orderBy("doc_id")),

    // end-to-end curation: keep the min-id doc per exact-content group
    // (dedup as a window, ONE shuffle by fingerprint — no groupBy+join
    // back), then filter to predicted-English docs above a quality floor
    // within token bounds. The shape a 100 TB curation run uses verbatim.
    "q40_curation" -> ((s, dir) => {
      val w = Window.partitionBy(contentFingerprint(col("text"))).orderBy(col("doc_id"))
      table(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"),
          tokenCountWs(col("text")).as("n_tokens"),
          qualityScore(col("text")).as("quality"),
          langId(col("text")).as("lang_pred"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.4 &&
          col("n_tokens").between(20, 2000))
        .orderBy("doc_id")
    }),

    // deterministic stratified downsampling: the keep-decision is a pure
    // function of (doc_id, salt) — reproducible across runs, engines, and
    // cluster layouts (no RNG state), trivially parallel, and the rate is
    // a per-stratum hex threshold (en kept at 16/64, others at 3/4 here,
    // balancing the corpus toward minority languages)
    "q41_sample_stratified" -> ((s, dir) =>
      table(s, dir, "documents")
        .withColumn("bucket",
          substring(md5(concat(col("doc_id").cast("string"), lit(":graft"))), 1, 2))
        .filter(col("bucket") < when(col("lang") === "en", "40").otherwise("c0"))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")),

    // deterministic FIXED-SIZE per-group sample (q41's complement: exact k
    // per language, not a hash-rate): keep the k lexicographically-
    // smallest salted content-independent hashes — reproducible across
    // runs and layouts. Ranked through the bounded MIN-k aggregate, not
    // a lang-keyed rank window: a handful of language partitions would
    // otherwise carry the whole corpus through one exchange; the
    // aggregate's map-side partials truncate at k, so the exchange moves
    // <= k (hash, id) entries per (partition, language)
    "q75_grouped_sample" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(concat(col("doc_id").cast("string"), lit(":sample"))).as("sk"))
        .groupBy("lang")
        .agg(graft.functions.expr.TopKFunctions.boundedMinKString(
          col("sk"), col("doc_id"), 5).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("e.id").as("doc_id"), col("lang"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("lang", "rk")),

    // C4/RefinedWeb-style PER-DOMAIN cap: no single domain may contribute
    // more than k documents. The domain comes from each document's URL
    // via the parse_url built-in (documents carries no URL column, so the
    // URL is synthesized deterministically from source + doc_id — the
    // oracle replays the host by the same construction); within a domain
    // the kept set is the k smallest salted content-independent hashes,
    // q75's fixed-k rule, so the result is reproducible across runs,
    // engines, and cluster layouts. Ranked through the bounded MIN-k
    // aggregate, not a domain-keyed rank window: map-side partials
    // truncate at k, so the exchange moves <= k (hash, id) entries per
    // (partition, domain) — never a domain's full row set, the property
    // that matters when one domain is a third of a 100 TB crawl.
    "q110_domain_cap" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          parse_url(
            concat(lit("https://"), col("source"), lit(".example.com/docs/"),
              col("doc_id").cast("string")),
            lit("HOST")).as("domain"),
          md5(concat(col("doc_id").cast("string"), lit(":domcap"))).as("sk"))
        .groupBy("domain")
        .agg(graft.functions.expr.TopKFunctions.boundedMinKString(
          col("sk"), col("doc_id"), 15).as("top"))
        .select(col("domain"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("e.id").as("doc_id"), col("domain"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("domain", "rk")),

    // REAL byte-pair encoding (q55's upgrade from vocabulary lookup to
    // the learned-subword algorithm): merges are TRAINED from the corpus
    // word-frequency table (top-N words by frequency reach the driver —
    // a bounded, codebook-sized collect by contract), then applied
    // distributed by a compiled greedy kernel with the merge table riding
    // the plan as a reference object — no join, no shuffle, no per-row
    // state. The oracle is GENERATED (the q39 pattern): the learned
    // merges/vocab become SQL literals and DuckDB replays the exact
    // (rank, leftmost)-greedy apply one recursion step per merge.
    "q111_bpe_tokenize" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val wf = docs.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("w")).limit(bpeTrainWords)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val model = graft.operators.Bpe.train(wf, numMerges = bpeNumMerges)
      bpeOracle111 = Some(capturedOracle(bpeSql(model)))
      docs
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"),
          graft.functions.expr.BpeFunctions.bpeEncode(col("word"), model).as("p"))
        .select(col("doc_id"), col("pos"), col("word"),
          concat_ws(" ", col("p")).as("pieces"),
          concat_ws(",",
            graft.functions.expr.BpeFunctions.bpeIds(col("p"), model)
              .cast("array<string>")).as("ids"))
        .orderBy("doc_id", "pos")
    }),

    // q111's tokenizer driven by the DISTRIBUTED-trained model
    // ([[graft.operators.Bpe.trainDistributed]]): merges learned from
    // the FULL word-frequency table — thousands of words that never
    // reach the driver, one map-side-combined pair-count aggregate per
    // round, only the argmax pair collected — instead of q111's bounded
    // top-256 driver contract. The model STAGES per corpus state
    // (train-once/tokenize-many); the apply kernel and the generated
    // recursive-CTE oracle are q111's verbatim, fed the staged merges,
    // so the gate proves the distributed trainer's learned state drives
    // a query bit-exactly (BpeSpec separately pins trainDistributed ==
    // train element-for-element on a shared input)
    "q121_bpe_tokenize_distributed" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.operators.Bpe.load(s, stagedBpeModelDir(s, dir))
      bpeOracle121 = Some(capturedOracle(bpeSql(model)))
      docs
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"),
          graft.functions.expr.BpeFunctions.bpeEncode(col("word"), model).as("p"))
        .select(col("doc_id"), col("pos"), col("word"),
          concat_ws(" ", col("p")).as("pieces"),
          concat_ws(",",
            graft.functions.expr.BpeFunctions.bpeIds(col("p"), model)
              .cast("array<string>")).as("ids"))
        .orderBy("doc_id", "pos")
    }),

    // unigram-LM (SentencePiece-family) Viterbi tokenization
    // ([[graft.operators.UnigramTokenizer]]): the tokenizer-family rung
    // above q111/q121's BPE — pieces carry integer micro-nat
    // log-probs, each word takes the segmentation maximizing their sum
    // (tie → shortest final piece). The gate segments the corpus's
    // distinct words PLUS their adjacent-pair compounds (prev||cur —
    // ~30× more distinct inputs whose best split into learned pieces
    // is nontrivial, the q119 synthesize-from-corpus pattern); the
    // model stages per corpus state and its scores splice into a
    // generated recursive-CTE oracle that replays the DP arithmetic
    "q145_unigram_tokenize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val model = graft.operators.UnigramTokenizer.load(s, stagedUnigramModelDir(s, dir))
      unigramOracle145 = Some(capturedOracle(unigramSql(model)))
      val tok = table(s, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
        .filter(col("token") =!= "")
      val compounds = tok
        .withColumn("prev",
          lag(col("token"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("prev").isNotNull)
        .select(concat(col("prev"), col("token")).as("word"))
      tok.select(col("token").as("word")).unionByName(compounds)
        .filter(length(col("word")) <= graft.operators.UnigramTokenizer.maxWordLen)
        .groupBy("word").agg(count(lit(1)).as("n_w"))
        .select(col("word"), col("n_w"),
          graft.functions.expr.UnigramFunctions.unigramSegment(col("word"), model).as("t"))
        .select(col("word"), col("n_w"), col("t.score_micro").as("score_micro"),
          col("t.n_pieces").cast("long").as("n_pieces"), col("t.seg").as("seg"))
        .orderBy("word")
    }),

    // semi-structured JSON round-trip gate: each doc serializes a
    // NESTED payload (scalar + struct + array-of-struct + array, a
    // planted escape-needing token — quote/backslash) with `to_json`,
    // parses it back with `from_json` under an explicit DDL schema,
    // and re-derives aggregates from the PARSED values (dotted struct
    // access, JSONPath via get_json_object, array folds). The oracle
    // recomputes every output from the base columns alone (q132's
    // closed-form codec-gate rule), so any escape/parse/schema defect
    // in the encode→decode chain is a value mismatch
    "q146_json_roundtrip" -> ((s, dir) => {
      val schema = "id BIGINT, meta STRUCT<lang: STRING, src: STRING, len: BIGINT>, " +
        "toks ARRAY<STRUCT<t: STRING, n: BIGINT>>, scores ARRAY<BIGINT>"
      val first5 = slice(filter(tokens(col("text")), x => x =!= lit("")), 1, 5)
      val toksJson = transform(first5, (x, i) => struct(
        concat(x, when(i === 0, lit("\"q\\")).otherwise(lit(""))).as("t"),
        length(x).cast("long").as("n")))
      val js = to_json(struct(
        col("doc_id").as("id"),
        struct(col("lang").as("lang"), col("source").as("src"),
          col("n_chars").as("len")).as("meta"),
        toksJson.as("toks"),
        array(pmod(col("doc_id"), lit(7L)), pmod(col("doc_id"), lit(11L)),
          pmod(col("doc_id"), lit(13L))).as("scores")))
      table(s, dir, "documents")
        .select(col("doc_id"), js.as("js"))
        .select(col("doc_id"), col("js"),
          from_json(col("js"), schema, Map.empty[String, String]).as("p"))
        .select(col("doc_id"),
          col("p.meta.lang").as("lang_rt"),
          get_json_object(col("js"), "$.meta.src").as("src_path"),
          size(col("p.toks")).cast("long").as("n_toks"),
          coalesce(aggregate(col("p.toks"), lit(0L),
            (acc, x) => acc + x.getField("n")), lit(0L)).as("sum_n"),
          coalesce(aggregate(col("p.toks"), lit(0L),
            (acc, x) => acc + length(x.getField("t"))), lit(0L)).as("sum_tok_len"),
          aggregate(col("p.scores"), lit(0L), (acc, x) => acc + x).as("sum_scores"))
        .orderBy("doc_id")
    }),

    // URL canonicalization ([[graft.functions.TextFunctions
    // .canonicalUrl]]) — the normalize-before-dedup step in front of the
    // per-domain cap (q110): scheme/host lowercase, default-port strip,
    // trailing-slash collapse, fragment drop, tracking-param removal,
    // query-param sort. The corpus carries no URL column, so a MESSY url
    // is synthesized deterministically per row (five variants by
    // doc_id % 5 — mixed case, default ports, tracking params, dup-order
    // params, trailing slashes, fragments; the q52-PII injection
    // pattern), and the oracle builds the same url and replays every
    // canonicalization step with the same regexes
    "q119_url_canonicalize" -> ((s, dir) => {
      val dirty = dirtyUrl(col("doc_id"), col("source"))
      table(s, dir, "documents")
        .select(col("doc_id"), dirty.as("url_raw"),
          canonicalUrl(dirty).as("url_canon"))
        .orderBy("doc_id")
    }),

    // trained LINEAR quality classifier (fastText shape, Joulin 2017;
    // NBSVM init + distributed-gradient logistic refine — see
    // [[graft.operators.QualityClassifier]]): the labeled-example rung
    // of the CCNet quality ladder above q89/q97/q114's corpus-LM
    // scores. Labels here are lang='en' (the canonical fastText langid
    // task); weights quantize to integer micro-units and ride the plan
    // as literals, so the keep/drop decision is EXACT integer
    // arithmetic and the oracle (GENERATED, q39/q111 pattern) replays
    // the whole scoring pass — the sigmoid's one EXP is the single
    // libm call, the q106-LN contract
    "q118_quality_classifier" -> ((s, dir) => {
      val model = graft.operators.QualityClassifier.load(s, stagedClfModelDir(s, dir))
      clfOracle118 = Some(capturedOracle(clfSql(model)))
      graft.operators.QualityClassifier.score(table(s, dir, "documents"), model)
        .orderBy("doc_id")
    }),

    // TEMPERATURE mixture (τ = 1/2, the mT5/XLM-R sampling family):
    // weights DERIVED from the corpus's own per-source counts,
    // w = sqrt(n_g/n_max) snapped down to 1/256 (>= 1/256 floor) — IEEE
    // sqrt is correctly rounded, so unlike general pow-τ the derivation
    // itself hash-compares ([[graft.operators.Mixture
    // .sqrtTemperatureResample]]). Grouped by LANG — the corpus's one
    // genuinely skewed dimension (sources are uniform by construction),
    // and the operator's actual multilingual use — so the fractional
    // snap and hex-pair paths are exercised, not degenerate w = 1
    "q129_mixture_temperature" -> ((s, dir) =>
      graft.operators.Mixture.sqrtTemperatureResample(
          table(s, dir, "documents").select(col("doc_id"), col("lang")),
          groupCol = "lang", salt = "mixT")
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")),

    // training-mixture resampling: per-source weights as data — ⌊w⌋/⌈w⌉
    // deterministic copies per doc ([[graft.operators.Mixture]]). src4 is
    // weighted 0 and src9 left unlisted: both must drop.
    "q80_mixture_resample" -> ((s, dir) =>
      graft.operators.Mixture.resample(
          table(s, dir, "documents").select(col("doc_id"), col("source")),
          weights = Map(
            "src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25,
            "src4" -> 0.0, "src5" -> 1.75, "src6" -> 3.0, "src7" -> 0.125,
            "src8" -> 1.0))
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy("doc_id", "copy")),

    // distinctive terms per document: tf-idf with a LINEAR idf (score =
    // tf/df). Deliberately log-free: +,-,*,/ are IEEE-exactly rounded in
    // both engines so the rank order is cross-engine deterministic, while
    // ln differs in final ulps and would make near-tie ranks flap. Rank
    // ties break on the token itself.
    "q81_distinctive_terms" -> ((s, dir) => {
      val tok = table(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("token"))
      tf.join(dfreq, Seq("token"))
        .withColumn("score", col("tf").cast("double") / col("df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // corpus stats: token-count histogram in width-10 buckets — partial
    // aggregation makes this one tiny shuffle regardless of corpus size
    "q42_token_histogram" -> ((s, dir) =>
      table(s, dir, "documents")
        .select((floor(tokenCountWs(col("text")) / 10) * 10).cast("long").as("bucket_lo"))
        .groupBy("bucket_lo").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket_lo")),

    // corpus vocabulary stats: top tokens by DOCUMENT frequency (each doc
    // counts a token once) — stopword/boilerplate discovery, and the df
    // ranking the prefix filter's rarity order is built on. Map-side
    // partial aggregation makes this one tiny token-keyed shuffle.
    "q53_vocab_df" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(explode(array_distinct(tokens(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token"))
        .limit(50)),

    // token-budget sequence packing (concat-and-chunk pretraining shape):
    // documents are laid out contiguously per language in doc_id order
    // and a document's bin is the fixed-size window its START offset
    // falls in. One window shuffle; the language is the parallel unit —
    // for a mono-language 100 TB corpus, salt the partition key into
    // sub-streams and offset bins per sub-stream.
    "q54_pack_sequences" -> ((s, dir) => {
      val budget = 2048
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), tokenCountWs(col("text")).as("n_tokens"))
        .withColumn("bin",
          floor((sum("n_tokens").over(w) - col("n_tokens")) / budget).cast("long"))
        .orderBy("doc_id")
    }),

    // the z-order clustering key itself, oracle-checked bit-for-bit:
    // deterministic 10-bit dims from doc_id, Morton-interleaved by the
    // compiled kernel; the DuckDB twin expands the interleave as 20
    // shift-and-mask terms (see graft.sources.Layout for the layout
    // writer this key drives, and LayoutSpec for the 2-D pruning proof)
    "q68_zorder_key" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 1024).as("x"),
          ((col("doc_id") * 7919) % 1024).as("y"))
        .withColumn("z",
          graft.functions.expr.ZOrderFunctions.zValue(col("x"), col("y"), 10))
        .orderBy("doc_id")),

    // the N-dimensional kernel (q68's sibling): three 8-bit dims,
    // Morton-interleaved; the twin expands 24 shift-and-mask terms —
    // bit b of dim j lands at output position 3*b + (2 - j)
    "q72_zorder_key_3d" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 256).as("x"),
          ((col("doc_id") * 7919) % 256).as("y"),
          ((col("doc_id") * 104729) % 256).as("w"))
        .withColumn("z", graft.functions.expr.ZOrderFunctions.zValueN(
          Seq(col("x"), col("y"), col("w")), 8))
        .orderBy("doc_id")),

    // WARC crawl-archive scan ([[graft.sources.Warc]]): the documents
    // table staged as a member-per-record gzip WARC archive (the Common
    // Crawl layout) plus one planted TRUNCATED file, read back through
    // the record parser — url, HTTP status, and the response body must
    // round-trip byte-exactly, and the truncated record must surface in
    // the corrupt audit, NOT here (the oracle ranges over documents
    // only, so any leak of it would hash-mismatch)
    "q117_warc_scan" -> ((s, dir) => {
      val recs = graft.sources.Warc.read(s, stagedWarcDir(s, dir))
      graft.sources.Warc.validResponses(recs)
        .select(col("url"),
          col("http_status").cast("long").as("http_status"),
          length(col("payload")).cast("long").as("n_bytes"),
          col("payload").cast("string").as("text"))
        .orderBy("url")
    }),

    // ORC columnar source (the other first-class Hadoop columnar
    // format; Spark ships the reader/writer — no extra dependency):
    // documents staged as a 3-file doc_id-sorted ORC dataset, read back
    // through a filtered, projected scan. The VALUE of the gate is the
    // format's scan contract, pinned by PlanShapeSpec: the lang/n_chars
    // predicates reach the ORC reader as PushedFilters (min/max stripe
    // + row-group skipping at scale) and ReadSchema carries only the
    // four selected columns — same pushdown story as the parquet scans,
    // proven on the second format.
    "q133_orc_scan" -> ((s, dir) =>
      s.read.orc(stagedOrcDir(s, dir))
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .orderBy("doc_id")),

    // Avro row-format source (q133's sibling on the other side of the
    // row/columnar divide; Spark ships the Avro jars but not the
    // `spark-avro` DataSource, so graft.sources.Avro builds the source
    // from the public Avro machinery). documents staged as a 3-file
    // deflate Avro dataset, read back through a PRUNED READER SCHEMA —
    // the `source`/`text` columns are skipped at decode, the honest
    // row-format analogue of column pruning; predicates stay
    // post-decode (row format — a pipeline needing pushdown converts to
    // parquet/ORC first, which is exactly the q133 pairing).
    "q135_avro_scan" -> ((s, dir) =>
      graft.sources.Avro.read(s, stagedAvroDir(s, dir), avroDocsSchema,
          columns = Seq("doc_id", "lang", "n_chars"))
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .orderBy("doc_id")),

    // rendezvous (HRW) resharding ([[graft.sources.Export
    // .rendezvousShard]]): the ELASTIC counterpart of the md5Shard rule
    // q131 exports with — grow the shard count n -> n+1 and only the
    // keys whose per-shard weight argmax lands on the NEWCOMER move
    // (~1/(n+1) of keys; a moved key can move only TO the new shard,
    // since its old shards' weights are unchanged). The gate computes
    // both assignments per key and the moved flag; the oracle replays
    // the salted-md5 weights and ARG_MAX in SQL, so the minimal-
    // movement property is hash-checked key-for-key, not sampled.
    "q143_rendezvous_reshard" -> ((s, dir) => {
      val key = concat(col("source"), lit("/"), col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.sources.Export.rendezvousShard(key, 8).cast("long").as("shard_8"),
          graft.sources.Export.rendezvousShard(key, 9).cast("long").as("shard_9"))
        .withColumn("moved", col("shard_8") =!= col("shard_9"))
        .orderBy("doc_id")
    }),

    // robots.txt governance ([[graft.operators.Robots]]): which fetched
    // URLs was the crawler ALLOWED to take — RFC 9309 parse + longest-
    // match/allow-on-tie evaluation, the crawl-compliance step beside
    // the WARC source. Per-source robots BODIES are synthesized
    // deterministically (three policy shapes by source number: a
    // graftbot+otherbot group shadowing a catch-all, a *-only group
    // with comments/no-op rules/extensions, and an allowlist shape) and
    // PARSED by the engine; the oracle rebuilds the effective rule set
    // from the synthesis arithmetic alone — any parser or precedence
    // defect surfaces as a decision mismatch (the q132 chain-gate
    // pattern on policy text).
    "q141_robots_governance" -> ((s, dir) => {
      val n = substring(col("source"), 4, 10).cast("int")
      val body = when(n % 3 === 0, concat(
          lit("# synthetic robots for "), col("source"), lit("\n" +
            "User-agent: graftbot\n" +
            "User-agent: otherbot\n" +
            "Disallow: /private/\n" +
            "Allow: /private/doc/\n" +
            "Disallow: /tmp/\n" +
            "Crawl-delay: 5\n" +
            "\n" +
            "User-agent: *\n" +
            "Disallow: /\n")))
        .when(n % 3 === 1, lit(
          "# only a wildcard group here\n" +
            "User-agent: *\n" +
            "Disallow: /private/\n" +
            "Disallow:\n" +
            "Sitemap: https://example.invalid/sitemap.xml\n"))
        .otherwise(lit(
          "User-agent: graftbot\n" +
            "Allow: /doc/\n" +
            "Disallow: /\n"))
      val robots = table(s, dir, "documents").select(col("source")).distinct()
        .select(col("source").as("domain"), body.as("robots_txt"))
      val rules = graft.operators.Robots.parseRules(robots, "domain", "robots_txt")
      val urls = table(s, dir, "documents").select(col("doc_id"),
        col("source").as("domain"),
        concat(
          when(col("doc_id") % 4 === 0, lit("/doc/"))
            .when(col("doc_id") % 4 === 1, lit("/private/doc/"))
            .when(col("doc_id") % 4 === 2, lit("/tmp/doc/"))
            .otherwise(lit("/public/doc/")),
          col("doc_id")).as("path"))
      graft.operators.Robots.evaluate(urls, rules, "graftbot",
          idCol = "doc_id", domainCol = "domain", pathCol = "path")
        .orderBy("doc_id")
    }),

    // HTML-to-text: the corpus is plain text, so (like q52's PII) the
    // query wraps each row in a deterministic HTML shell — style/script
    // blocks, tags, and entities — and the extraction must recover the
    // text plus the decoded suffix, char-for-char against the oracle
    "q63_text_html_strip" -> ((s, dir) => {
      val dirty = concat(
        lit("<html><head><style>p{color:red}</style></head><body><p class=\"big\">"),
        col("text"),
        lit("</p><script>var x = 1 < 2;</script>A &amp; B &lt;ok&gt; " +
          "&quot;q&quot; &#39;s&#39;&nbsp;end</body></html>"))
      table(s, dir, "documents")
        .select(col("doc_id"), stripHtml(dirty).as("clean"))
        .orderBy("doc_id")
    }),

    // Unicode canonicalization: the corpus is ASCII, so (like q52's PII)
    // the query appends a decomposed-form suffix ("e"+combining acute,
    // U+0301) per row — the kernel must COMPOSE it to U+00E9, shrinking
    // the char count by one, and DuckDB's NFC_NORMALIZE must agree on
    // the full normalized text
    "q62_text_nfc" -> ((s, dir) => {
      val dirty = concat(col("text"), lit(" café")) // decomposed: e + U+0301
      table(s, dir, "documents")
        .select(col("doc_id"),
          length(dirty).as("n_chars_raw"),
          length(graft.functions.expr.NormalizeFunctions.nfcNormalize(dirty))
            .as("n_chars_nfc"),
          graft.functions.expr.NormalizeFunctions.nfcNormalize(dirty).as("clean"))
        .orderBy("doc_id")
    }),

    // tokenize-to-ids, the terminal training-prep step: a vocabulary of
    // the top-20 tokens by (df, token) maps every token position to an id
    // (OOV -> 0). The vocab is learned with one tiny aggregation; the
    // mapping is a BROADCAST join against exploded (doc, pos, token) rows
    // — the scalable shape for vocabularies too big for a literal map
    // expression, and nothing ever shuffles by document. Output stays
    // exploded (doc_id, pos, token_id): scalar rows hash-compare exactly,
    // and downstream packing consumes position-keyed rows anyway.
    "q55_tokenize_ids" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val vocab = docs
        .select(explode(array_distinct(tokens(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(20)
        .withColumn("id", row_number().over(
          Window.orderBy(col("df").desc, col("token"))).cast("long"))
      docs
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
        .join(broadcast(vocab.select("token", "id")), Seq("token"), "left")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          coalesce(col("id"), lit(0L)).as("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // PII scrub: the synthetic corpus carries no addresses, so the query
    // injects a deterministic email + URL per row (same expression in the
    // oracle) and scrubs THAT — every row exercises both patterns and the
    // scrubbed text itself is hash-compared
    "q52_text_pii_scrub" -> ((s, dir) => {
      val dirty = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com via https://example.com/p/"),
        col("doc_id").cast("string"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          matchCount(dirty, emailPattern).as("n_emails"),
          matchCount(dirty, urlPattern).as("n_urls"),
          scrubPii(dirty).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // repetition filter signal: duplicate 3-gram fraction per document
    "q51_text_repetition" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          round(repetitionRatio(col("text")), 6).as("repetition"))
        .orderBy("doc_id")),

    // corpus stats: EXACT interpolated token-count percentiles per
    // language — the sequence-length profile a training run budgets
    // against. Exact rather than percentile_approx (the sketch differs
    // across engines; the exact definition doesn't), via the bounded-
    // state count-histogram operator (see [[graft.operators
    // .ExactPercentiles]] for why the `percentile` aggregate itself
    // cannot survive 100 TB groups).
    "q45_token_percentiles" -> ((s, dir) =>
      graft.operators.ExactPercentiles.byGroup(
          table(s, dir, "documents")
            .select(col("lang"), tokenCountWs(col("text")).as("n_tokens")),
          groupCols = Seq("lang"), valueCol = "n_tokens",
          ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .select(col("lang"), col("p50"), col("p90"), col("p99"),
          col("max_n_tokens").as("max_tokens"))
        .orderBy("lang")),

    // q45's SKETCH sibling: mergeable bottom-k order-statistics sample
    // over the public hash64 ([[graft.operators.QuantileSketch]]) —
    // state k rows per group regardless of value cardinality (q45's
    // count-histogram is exact but its state is the distinct-VALUE
    // histogram; continuous measures at 100 TB need this bound instead).
    // Membership is a pure function of the input set, so the whole
    // sketch — sample AND rank arithmetic — replays bit-exactly in SQL.
    "q112_token_percentiles_sketch" -> ((s, dir) =>
      graft.operators.QuantileSketch.byGroup(
          table(s, dir, "documents")
            .select(col("lang"), col("doc_id"), tokenCountWs(col("text")).as("n_tokens")),
          groupCols = Seq("lang"), idCol = "doc_id", valueCol = "n_tokens",
          k = 64, salt = "q112",
          ps = Seq("p50" -> 50, "p90" -> 90, "p99" -> 99))
        .orderBy("lang")),

    // KMV distinct sketch ([[graft.operators.Kmv]]): per-lang distinct
    // token count estimated from the k smallest DISTINCT hashes — the
    // third distinct-count rung (exact q59-family / HLL q104 / KMV),
    // and the only one whose sketches support set-operation estimates.
    // Exchanges carry <= k distinct hex entries per (partition, lang)
    // via the dedup-in-buffer bounded aggregate, even under
    // all-distinct input
    "q126_kmv_distinct_tokens" -> ((s, dir) =>
      graft.operators.Kmv.distinctEstimate(
          graft.operators.Kmv.sketch(langTokens(s, dir),
            groupCols = Seq("lang"), valueCol = "token",
            k = kmvK, salt = "kmv"),
          k = kmvK)
        .select("lang", "sample_n", "est_distinct")
        .orderBy("lang")),

    // KMV's set-operation payoff: pairwise vocabulary Jaccard between
    // langs from the SAME sketches — pure array arithmetic on the
    // retained hashes (k smallest of the union, count present in both),
    // group-cardinality-sized, the estimate HLL structurally cannot
    // give without inclusion-exclusion error stacking
    "q127_kmv_jaccard_langs" -> ((s, dir) =>
      graft.operators.Kmv.jaccardBetweenGroups(
          graft.operators.Kmv.sketch(langTokens(s, dir),
            groupCols = Seq("lang"), valueCol = "token",
            k = kmvK, salt = "kmv"),
          groupCol = "lang", k = kmvK)
        .orderBy("g_a", "g_b")),

    // q126's KMV sketch as STREAMING STATE ([[graft.streaming
    // .SketchStream.kmvDistinctStreaming]]): the dedup-in-buffer
    // aggregate folds each drained micro-batch into per-lang
    // k-smallest-distinct-hash state; membership is a pure set
    // function, so the drained state is bit-identical to the batch
    // sketch and q128 shares q126's oracle VERBATIM — all three
    // mergeable sketch families (bottom-k q113, CMS q116, KMV) now run
    // as continuously-maintained streaming services
    "q128_kmv_distinct_stream" -> ((s, dir) =>
      graft.streaming.SketchStream.kmvDistinctStreaming(
          s, stagedDocsLangFeedDir(s, dir), docsLangFeedSchema,
          Scratch.freshDir(s, "q128", dir),
          groupCols = Seq("lang"), valueCol = "token", k = kmvK, salt = "kmv",
          maxFilesPerTrigger = Some(1),
          prep = df => df.select(col("lang"),
            explode(graft.functions.TextFunctions.shingleSet(col("text"), 3))
              .as("token")))
        .select("lang", "sample_n", "est_distinct")
        .orderBy("lang")),

    // q112's sketch maintained as STREAMING STATE ([[graft.streaming
    // .SketchStream]]): the same bounded MIN-k aggregate runs inside a
    // streaming groupBy in Complete mode over a 3-file drained feed. The
    // sketch's merge law (bottom-k of a union == bottom-k of merged
    // bottom-k's, membership a pure function of the input set) makes the
    // drained state BIT-IDENTICAL to the single-shot batch sketch — q113
    // shares q112's oracle verbatim, the strongest batch-boundary-
    // invisibility statement a sketch can make.
    "q113_token_percentiles_sketch_stream" -> ((s, dir) =>
      graft.streaming.SketchStream.quantileSketchStreaming(
          s, stagedDocsLangFeedDir(s, dir), docsLangFeedSchema,
          Scratch.freshDir(s, "q113", dir),
          groupCols = Seq("lang"), idCol = "doc_id", valueCol = "n_tokens",
          k = 64, salt = "q112",
          ps = Seq("p50" -> 50, "p90" -> 90, "p99" -> 99),
          maxFilesPerTrigger = Some(1),
          prep = _.withColumn("n_tokens", tokenCountWs(col("text"))))
        .orderBy("lang")),

    // CCNet's final step (Wenzek et al. 2020): bucket the corpus
    // head/middle/tail by corpus-LM score terciles. Composes q97's
    // bigram NLL (engine-identical at 6 dp, scaled to integer
    // micro-nats) with q112's bottom-k sketch for the thresholds — the
    // scale-honest alternative to a global NTILE window, whose single
    // ordered partition is exactly what a 100 TB corpus cannot do. The
    // thresholds broadcast; the bucket assignment is map-side.
    "q114_ccnet_buckets" -> ((s, dir) => {
      // pinned: the LM scoring feeds BOTH the threshold sketch and the
      // final bucket assignment — unpinned it would run the whole q97
      // scoring plan twice
      val scored = graft.operators.CacheScope.pin(
        graft.operators.UnigramLm.scoreDocsBigram(table(s, dir, "documents"))
          .filter(col("nll").isNotNull)
          .select(col("doc_id"),
            expr("cast(round(nll * 1000000, 0) as long)").as("score")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val thr = graft.operators.QuantileSketch.byGroup(
          scored, Seq.empty, "doc_id", "score", 64, "q114",
          Seq("t1" -> 33, "t2" -> 67))
        .select("t1", "t2")
      scored.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("score"),
          when(col("score") <= col("t1"), "head")
            .when(col("score") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // q103's CMS grid maintained as STREAMING state ([[graft.streaming
    // .SketchStream.cmsHeavyHittersStreaming]]): counters merge by sum,
    // so the drained complete-mode grid equals the batch grid exactly
    // and the heavy-hitter readout (batch, against the drained state)
    // reproduces q103 bit-for-bit — sketch maintenance and readout
    // decoupled the way a production heavy-hitters service runs.
    "q116_heavy_hitters_cms_stream" -> ((s, dir) =>
      graft.streaming.SketchStream.cmsHeavyHittersStreaming(
        s, stagedDocsLangFeedDir(s, dir), docsLangFeedSchema,
        Scratch.freshDir(s, "q116", dir),
        items = df => df.select(explode(tokens(col("text"))).as("item"))
          .filter(col("item") =!= ""),
        phi = 0.02, maxFilesPerTrigger = Some(1))),

    // corpus-LM quality score (the CCNet filter shape): per-doc mean
    // -ln p(token) under the corpus's own unigram MLE — see
    // [[graft.operators.UnigramLm]]
    "q89_unigram_logprob" -> ((s, dir) =>
      graft.operators.UnigramLm.scoreDocs(table(s, dir, "documents"))
        .orderBy("doc_id")),

    // bigram upgrade with add-one smoothing: transitions (incl. a BOS ""
    // context) pay for being unseen — materially better at scoring
    // gibberish than the unigram, same head/tail Zipf split execution
    "q97_bigram_logprob" -> ((s, dir) =>
      graft.operators.UnigramLm.scoreDocsBigram(table(s, dir, "documents"))
        .orderBy("doc_id")),

    // the Kneser-Ney rung above q97 (the smoothing KenLM — CCNet's
    // actual scorer — uses): absolute discount + continuation-count
    // interpolation, per-pair log-prob precomputed on the vocab²-bounded
    // model table so the corpus stream pays one lookup join — see
    // [[graft.operators.UnigramLm.scoreDocsKneserNey]]
    "q134_kneser_ney_logprob" -> ((s, dir) =>
      graft.operators.UnigramLm.scoreDocsKneserNey(table(s, dir, "documents"))
        .orderBy("doc_id")),

    // DSIR importance-resampling selection ([[graft.operators.Dsir]],
    // Xie et al. NeurIPS 2023): hashed char-4-gram bag features, two
    // add-one-smoothed bucket multinomials (target = lang 'en' docs,
    // raw = all), per-bucket log-ratio frozen to integer micro-nats on
    // the dim-bounded table, per-doc weight an EXACT integer dot, top
    // 10% selected by (weight desc, id) through a distributed
    // take-ordered — the training-free sibling of the q118 classifier
    "q214_dsir_selection" -> ((s, dir) =>
      graft.operators.Dsir.selectTop(
          table(s, dir, "documents"), col("lang") === "en", fraction = 0.1,
          n = 4, dim = 1024)
        .orderBy("doc_id")),

    // C4-style LINE-level cleaning + page gate ([[graft.operators
    // .C4Rules]], Raffel et al. JMLR 2020 §2.2) — the line-granularity
    // rule family member beside doc-level Gopher (q124): terminal
    // punctuation + min-words + no-javascript line rules, lorem-ipsum /
    // curly-brace / min-kept-lines page rules. Corpus text is
    // single-line, so the gate synthesizes deterministic multi-line
    // pages (the q140 injection discipline): a javascript banner on
    // doc_id % 4, the payload line, a punctuation-less "click here", a
    // lorem-ipsum page-killer on % 7, a curly-brace page-killer on % 5
    // — every rule fires on a known id set, both verdicts occur, and
    // the page rule overriding a keepable lorem-ipsum LINE is exercised
    "q216_c4_line_filter" -> ((s, dir) => {
      val d = col("doc_id")
      val dirty = concat_ws("\n",
        when(d % 4 === 0, lit("You need Javascript enabled to continue."))
          .otherwise(lit("This page renders fine without any scripts.")),
        concat(coalesce(col("text"), lit("")), lit(".")),
        lit("click here"),
        when(d % 7 === 0, lit("lorem ipsum dolor sit amet.")),
        when(d % 5 === 0, lit("function() return curly brace {")))
      graft.operators.C4Rules.clean(
          table(s, dir, "documents").select(d, dirty.as("page")),
          textCol = "page")
        .orderBy("doc_id")
    }),

    // streaming DSIR ([[graft.streaming.SketchStream
    // .dsirCountsStreaming]], the SIXTH mergeable-state family): the
    // (target, raw) bucket-count pairs fold as Complete-mode state over
    // the staged increment feed (target = the feed-derivable id-parity
    // marker), the drained table freezes into the score table, and the
    // increment scores + selects against it — the drained counts are
    // bit-identical to batch counts (plain-sum merge law), so the
    // oracle IS the batch DSIR algebra over the feed's rows
    "q215_dsir_counts_stream" -> ((s, dir) => {
      val counts = graft.streaming.SketchStream.dsirCountsStreaming(
        s, DedupQueries.stagedDocsFeedDir(s, dir), DedupQueries.docsFeedSchema,
        Scratch.freshDir(s, "q215", dir),
        target = pmod(col("doc_id"), lit(2)) === 0,
        maxFilesPerTrigger = Some(1))
      val inc = table(s, dir, "documents")
        .filter(col("doc_id") >= DedupQueries.corpusSplit)
        .select(col("doc_id"), col("text"))
      val k = math.ceil(0.1 * inc.count()).toLong
      graft.operators.Dsir.flagTop(
          graft.operators.Dsir.weightsAgainst(inc,
            graft.operators.Dsir.scoreTable(counts, dim = 1024)),
          k)
        .orderBy("doc_id")
    }),

    // the SERVING half of streaming DSIR ([[graft.streaming.SketchStream
    // .dsirScoreStreaming]], closing the q215 scaladoc's promised
    // deployment shape): the score table freezes from the feed's batch
    // counts (bit-identical to q215's drained counts by the plain-sum
    // merge law), each micro-batch pays ONE broadcast lookup pass and
    // commits its weight rows exactly-once into a TxTable via the txn
    // ledger, and selection runs at serve time over the drained weight
    // table (increment-bounded k). Per-document weights are
    // batch-independent under a frozen score table, so the drained
    // selection is IDENTICAL to the batch algebra — the oracle is
    // q215's statement verbatim
    "q220_dsir_select_stream" -> ((s, dir) => {
      val feedDir = DedupQueries.stagedDocsFeedDir(s, dir)
      val feedBatch = s.read.schema(DedupQueries.docsFeedSchema).parquet(feedDir)
      val scores = graft.operators.Dsir.scoreTable(
        graft.operators.Dsir.bucketCounts(
          feedBatch, pmod(col("doc_id"), lit(2)) === 0),
        dim = 1024)
      // maxFilesPerTrigger = 2, not 1 (r19 verdict #3): per-document
      // weights are batch-independent under the frozen score table, so
      // batch granularity is an EXECUTION knob here (the result — and the
      // oracle, q215's statement verbatim — is identical at any value).
      // Each micro-batch pays a fixed floor the data cannot amortize at
      // gate scale (micro-batch planning + the txn ledger's driver-side
      // commit), profiled at ~0.7 s/batch of the query's 2.1 s planGap;
      // two batches over the 3-file feed keep the cross-batch boundary —
      // exactly-once txn appends across >1 ledger commit stay exercised
      // in the gate (and the spec's replay matrix drives the multi-batch
      // cases directly) — while shedding a third of the per-batch floor.
      // At 100 TB the trigger sizing is a deployment throughput decision
      // either way; nothing about 1-file batches is load-bearing.
      val weights = graft.streaming.SketchStream.dsirScoreStreaming(
        s, feedDir, DedupQueries.docsFeedSchema, scores,
        Scratch.freshDir(s, "q220tbl", dir), Scratch.freshDir(s, "q220ckpt", dir),
        maxFilesPerTrigger = Some(2))
      val k = math.ceil(0.1 * weights.count()).toLong
      graft.operators.Dsir.flagByThreshold(weights, k)
        .orderBy("doc_id")
    }),

    // TRIGRAM interpolated Kneser-Ney (the r12 verdict's documented
    // next rung): the full Chen & Goodman three-level recursion — raw
    // counts at the top, continuation counts at every lower order —
    // with all lower-order tables derived from the trigram TYPE table;
    // per-type log-prob precomputed so the corpus stream pays one
    // (p2, p1, cur) lookup join ([[graft.operators.UnigramLm
    // .scoreDocsKneserNeyTrigram]])
    "q212_kneser_ney_trigram" -> ((s, dir) =>
      graft.operators.UnigramLm.scoreDocsKneserNeyTrigram(table(s, dir, "documents"))
        .orderBy("doc_id")),

    // 4-GRAM interpolated Kneser-Ney (one more level of the same
    // recursion; the r15 verdict's one named-missing LM rung): raw
    // counts at the top, continuation counts at every lower order,
    // each lower-order table a groupBy-count over the one above —
    // per-type log-prob precomputed so the corpus stream pays one
    // (p3, p2, p1, cur) lookup join ([[graft.operators.UnigramLm
    // .scoreDocsKneserNey4gram]])
    "q232_kneser_ney_4gram" -> ((s, dir) =>
      graft.operators.UnigramLm.scoreDocsKneserNey4gram(table(s, dir, "documents"))
        .orderBy("doc_id")),

    // exact heavy hitters via the two-pass Misra–Gries candidate/verify
    // shape ([[graft.operators.Freq]]): the sketch only PRUNES, so the
    // result is exact and fully oracled despite the approximate pass
    "q98_heavy_hitters" -> ((s, dir) =>
      graft.operators.Freq.exactHeavyHitters(
        table(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("token"))
          .filter(col("token") =!= ""),
        col("token"), phi = 0.02)),

    // lexical retrieval twin of the ANN family ([[graft.operators.Bm25]]):
    // fixed keyword query set, ranking on the rounded score through the
    // bounded top-k aggregate
    "q99_bm25_search" -> ((s, dir) =>
      graft.operators.Bm25.search(table(s, dir, "documents"), bm25Queries, k = 10)),

    // Count-Min heavy hitters — the SKETCH sibling of q98: the token
    // stream folds into a d x 2^logW counter grid (never shuffled by
    // token), estimates touch only the distinct vocabulary against the
    // broadcast sketch. Integer-only bucket arithmetic over the engine's
    // hash64, so the sketch family carries a bit-exact oracle
    "q103_heavy_hitters_cms" -> ((s, dir) =>
      graft.operators.Freq.cmsHeavyHitters(
        table(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("token"))
          .filter(col("token") =!= ""),
        col("token"), phi = 0.02)),

    // per-column table profile ([[graft.operators.Profile]]): the
    // trust-a-new-data-drop summary, one Expand-fused aggregation pass
    "q105_profile_documents" -> ((s, dir) =>
      graft.operators.Profile.profile(
        table(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars"))),

    // deterministic weighted sample without replacement
    // ([[graft.operators.Sampling]], A-ES): fixed 100-doc budget, longer
    // docs proportionally favored; hash-derived uniforms make it
    // bit-reproducible, TakeOrderedAndProject keeps it k-capped
    "q106_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        table(s, dir, "documents"), "doc_id", "n_chars", k = 100)),

    // multi-level aggregation in ONE pass: per-(source, lang), per-source
    // subtotals, and the grand total via ROLLUP's Expand — the OLAP
    // report shape (NULL marks the rolled-up level, as in ANSI SQL)
    "q107_rollup_source_lang" -> ((s, dir) =>
      table(s, dir, "documents")
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)),

    // full CUBE over (source, lang) — every grouping set at once
    // (per-pair, per-source, per-lang, grand total), completing the
    // grouping family beside q107's ROLLUP and q108's PIVOT: one Expand
    // + one aggregation, the same map-side-combined shape. The ordering
    // key disambiguates which NULLs are subtotal markers via GROUPING()
    // masks, so rows hash-stably even if a data value were NULL
    "q130_cube_source_lang" -> ((s, dir) =>
      table(s, dir, "documents")
        .cube("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          grouping_id().as("gmask"))
        .orderBy(col("gmask"), col("source").asc_nulls_first,
          col("lang").asc_nulls_first)),

    // bag-semantics SET OPERATIONS over the en/de token multisets:
    // INTERSECT ALL (min multiplicity), EXCEPT ALL (clamped
    // difference), and their DISTINCT forms in one tagged result —
    // the SQL set-operator surface exercised as data, not just parsed
    "q162_token_set_ops" -> ((s, dir) => {
      val tok = table(s, dir, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val en = tok.filter(col("lang") === "en").select("token")
      val de = tok.filter(col("lang") === "de").select("token")
      def tag(df: DataFrame, op: String) =
        df.groupBy("token").agg(count(lit(1)).as("n")).withColumn("op", lit(op))
      tag(en.intersectAll(de), "intersect_all")
        .unionByName(tag(en.exceptAll(de), "except_all"))
        .unionByName(tag(en.intersect(de), "intersect"))
        .unionByName(tag(en.except(de), "except"))
        .select(col("op"), col("token"), col("n"))
        .orderBy("op", "token")
    }),

    // positional phrase search: the corpus's top-3 bigrams (data-derived,
    // so the gate survives testdata regeneration) matched as EXACT
    // consecutive pairs through the alignment join ([[graft.operators
    // .PhraseSearch]]); per (phrase, doc) occurrence counts
    "q171_phrase_search" -> ((s, dir) => {
      import s.implicits._
      val post = graft.operators.CacheScope.pin(
        graft.operators.PhraseSearch.postings(table(s, dir, "documents")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bigram derivation via the same pos+1 self-join the search uses
      // (A/B'd vs a per-doc lead window in the same session: the join
      // form measured 2.47 s vs 2.89 s at sf0.1 — the window's per-doc
      // sort costs more than the second hash-join side). The top 3 are
      // collected (3 rows) and numbered on the driver, so the self-join
      // runs once and both consumers read local rows.
      val top = post.as("a").join(post.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
        .groupBy(col("a.token").as("w0"), col("b.token").as("w1"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w0"), col("w1")).limit(3)
        .select("w0", "w1").collect().toSeq
        .zipWithIndex.map { case (r, i) => (i + 1L, r.getString(0), r.getString(1)) }
      val phrases = top.flatMap { case (id, w0, w1) => Seq((id, 0L, w0), (id, 1L, w1)) }
        .toDF("phrase_id", "offset", "term")
      graft.operators.PhraseSearch.occurrences(post, phrases)
        .groupBy("phrase_id", "doc_id").agg(count(lit(1)).as("n_occ"))
        .join(broadcast(top.toDF("phrase_id", "w0", "w1")), Seq("phrase_id"))
        .select(col("phrase_id"), col("w0"), col("w1"), col("doc_id"), col("n_occ"))
        .orderBy("phrase_id", "doc_id")
    }),

    // per-doc KEYWORD extraction: top-3 tokens by integer tf·idf (the
    // q81/q152 linear-idf micro-unit discipline) with a deterministic
    // (weight desc, token) tie-break — the per-doc window shuffles on
    // doc_id (bounded partitions), weights integer so ranking is exact
    "q184_doc_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = table(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = tf.join(df, Seq("token"))
        .select(col("doc_id"), col("token"),
          (col("tf") * round(lit(1000000.0) / col("df")).cast("long")).as("w"))
      w.withColumn("rank",
          row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("w").desc, col("token"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("w"))
        .orderBy("doc_id", "rank")
    }),

    // COLLOCATION extraction by pointwise mutual information: adjacent
    // bigrams with count ≥ 5 ranked by PMI = ln(p(ab)/(p(a)p(b))),
    // computed per row as ONE fixed IEEE expression frozen to integer
    // micro-nats (no cross-row double sums anywhere); corpus totals
    // ride as a 1-row broadcast
    "q189_collocations_pmi" -> ((s, dir) => {
      val post = graft.operators.CacheScope.pin(
        graft.operators.PhraseSearch.postings(table(s, dir, "documents")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val uni = graft.operators.CacheScope.pin(
        post.groupBy(col("token")).agg(count(lit(1)).as("u")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bg = post.as("a").join(post.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
        .groupBy(col("a.token").as("w0"), col("b.token").as("w1"))
        .agg(count(lit(1)).as("bcnt"))
      val tot = uni.agg(sum(col("u")).as("tu")).crossJoin(
        bg.agg(sum(col("bcnt")).as("tb")))
      val pmiMicro = round(log(
        (col("bcnt").cast("double") * col("tu") * col("tu")) /
          (col("tb").cast("double") * col("ua") * col("ub"))) * 1e6).cast("long")
      bg.filter(col("bcnt") >= 5)
        .join(uni.select(col("token").as("w0"), col("u").as("ua")), Seq("w0"))
        .join(uni.select(col("token").as("w1"), col("u").as("ub")), Seq("w1"))
        .crossJoin(broadcast(tot)) // 1-row corpus totals
        .select(col("w0"), col("w1"), col("bcnt"), pmiMicro.as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("w0"), col("w1"))
        .limit(20)
    }),

    // hierarchical URL PATH-TREE rollup (the crawl-budget table): a
    // deterministic URL per doc rolls up to (host), (host, seg1) and
    // (host, seg1, seg2) levels in ONE Expand pass (GROUPING SETS over
    // the derived hierarchy), GROUPING() masks disambiguating the
    // levels — the per-prefix page counts a frontier scheduler budgets
    // against
    "q192_url_path_rollup" -> ((s, dir) => {
      val id = col("doc_id")
      val u = table(s, dir, "documents").select(id,
        concat(lit("h"), (id % 7).cast("string"), lit(".example.com")).as("host"),
        concat(lit("s"), (id % 5).cast("string")).as("seg1"),
        concat(lit("t"), (id % 11).cast("string")).as("seg2"))
      u.rollup(col("host"), col("seg1"), col("seg2"))
        .agg(count(lit(1)).as("n_pages"), grouping_id().cast("long").as("gmask"))
        .filter(col("gmask") < 7) // drop the grand total; keep the 3 tree levels
        .select(col("host"), col("seg1"), col("seg2"), col("n_pages"), col("gmask"))
        .orderBy(col("gmask"), col("host"),
          col("seg1").asc_nulls_first, col("seg2").asc_nulls_first)
    }),

    // chi-square INDEPENDENCE scan over the (source × lang) contingency
    // table: per-cell contribution (O·N − rT·cT)² / (rT·cT·N) — each a
    // single fixed IEEE expression of exact integer marginals, frozen
    // to micro-units per CELL (the q188 representation; no cross-cell
    // double sum) — the over/under-representation audit a corpus
    // balance check runs
    "q194_source_lang_chi2" -> ((s, dir) => {
      val cells = table(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      val rT = cells.groupBy("source").agg(sum(col("o")).as("rt"))
      val cT = cells.groupBy("lang").agg(sum(col("o")).as("ct"))
      val n = cells.agg(sum(col("o")).as("n"))
      val dev = col("o") * col("n") - col("rt") * col("ct")
      cells.join(broadcast(rT), Seq("source"))
        .join(broadcast(cT), Seq("lang"))
        .crossJoin(broadcast(n)) // 1-row total
        .select(col("source"), col("lang"), col("o"), col("rt"), col("ct"),
          round((dev.cast("double") * dev.cast("double")) /
            (col("rt").cast("double") * col("ct") * col("n")) * 1e6)
            .cast("long").as("chi2_micro"))
        .orderBy("source", "lang")
    }),

    // SQUARE-ROOT (Neyman-style) stratified allocation: stratum quotas
    // ∝ √N_h — the allocation that beats proportional when per-stratum
    // variance is similar — with √ frozen to integer micro-units per
    // stratum (sqrt is correctly-rounded IEEE; the SUM over strata is
    // then an exact long), quota = round-half-up in pure integers, and
    // the q75 deterministic hash-rank rule selecting members
    "q195_neyman_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 20L
      val ids = table(s, dir, "documents").select(col("doc_id"), col("lang"))
      val counts = ids.groupBy(col("lang")).agg(count(lit(1)).as("nh"))
        .withColumn("sm", round(sqrt(col("nh").cast("double")) * 1e6).cast("long"))
      val denom = counts.agg(sum(col("sm")).as("d"))
      val quotas = counts.crossJoin(broadcast(denom)) // 1-row scalar
        .select(col("lang"), col("nh"),
          expr(s"($k * sm * 2 + d) div (d * 2)").as("quota"))
      val rk = row_number().over(Window.partitionBy(col("lang"))
        .orderBy(md5(concat(col("doc_id").cast("string"), lit(":neyman"))),
          col("doc_id"))).cast("long")
      ids.withColumn("rk", rk)
        .join(broadcast(quotas), Seq("lang"))
        .filter(col("rk") <= col("quota"))
        .select(col("lang"), col("nh"), col("quota"), col("doc_id"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // encoding-damage repair (the ftfy-class curation step): mojibake
    // artifacts are INJECTED deterministically (doc_id ≡ 1 mod 6 —
    // the q52/q119 synthesize-from-corpus pattern; a varying repeat of
    // Ã© plus one of each â€x artifact incl. the invisible-U+009D
    // form), detected by [[graft.functions.TextFunctions
    // .mojibakeCount]] and repaired by [[graft.functions.TextFunctions
    // .fixMojibake]]; the oracle builds the same dirty text and replays
    // the same literal-replace chain, so any divergence in Unicode
    // regex handling or replace order is a value mismatch
    "q153_mojibake_repair" -> ((s, dir) => {
      val dirty = mojibakeDirty
      table(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          mojibakeCount(col("dirty")).as("n_moji"),
          (mojibakeCount(col("dirty")) > 0).as("changed"),
          length(col("dirty")).cast("long").as("n_dirty"),
          length(fixMojibake(col("dirty"))).cast("long").as("n_fixed"),
          md5(fixMojibake(col("dirty")).cast("binary")).as("fixed_fp"))
        .orderBy("doc_id")
    }),

    // all-pairs TF-IDF cosine top-k ([[graft.operators.Apss]]): the
    // corpus-driven "related documents" ranking beside query-driven
    // BM25 (q99) — integer tf·idf weights over shingle dimensions, one
    // inverted-index self-join, exact top-3 per doc. Dimensions key on
    // 64-bit xxhash64 gram hashes, the oracle on gram strings: they agree
    // unless two grams collide, ≈ n²/2^65 expected pairs for n distinct
    // grams (2.0e-11 at sf0.1's 27,213 trigrams; 0.027 at 10^9)
    "q152_tfidf_cosine_topk" -> ((s, dir) =>
      graft.operators.Apss.tfidfCosineTopK(table(s, dir, "documents"))
        .orderBy("doc_id", "sim_rank")),

    // EXPLICIT grouping sets — the arbitrary-set member of the grouping
    // family that neither ROLLUP (q107) nor CUBE (q130) expresses:
    // ((source, lang), (source), (lang)) = the cube minus its grand
    // total, the usual "both one-dimensional reports plus the detail"
    // request. Same single Expand + one map-side-combined aggregation
    "q150_grouping_sets" -> ((s, dir) =>
      table(s, dir, "documents")
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")), Seq(col("lang"))),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          grouping_id().as("gmask"))
        .orderBy(col("gmask"), col("source").asc_nulls_first,
          col("lang").asc_nulls_first)),

    // long-to-wide PIVOT with an explicit value list (deterministic
    // schema — Spark never scans for values, the oracle never guesses)
    "q108_pivot_lang_counts" -> ((s, dir) =>
      table(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("source"))
  )

  /** Keyword query set for q99 — terms drawn from the synthetic corpus
    * vocabulary so every query matches documents at every SF.
    */
  private val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "kq1" -> Seq("table", "scan", "filter"),
    "kq2" -> Seq("stream", "window", "agg"),
    "kq3" -> Seq("customer", "query", "big"))

  /** q32's DuckDB twin (see the oracleSql comment). Window hashes are
    * computed directly (coefficient join against a B-power table) rather
    * than via the kernel's rolling update — same value mod 2^64, and
    * set-oriented SQL has no use for the O(1)-update trick.
    */
  private def rollingFingerprintSql(window: Int): String = {
    val m64 = BigInt(1) << 64
    val b = BigInt("100000001b3", 16)
    val pw = (0 until window)
      .map(k => s"($k, ${b.modPow(BigInt(k), m64)}::HUGEINT)").mkString(", ")
    s"""WITH RECURSIVE
        toks0 AS (
          SELECT doc_id, STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        tokpos AS (
          SELECT doc_id, i AS pos, t[i] AS token
          FROM toks0, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t))) AS i) u),
        tokh AS (SELECT doc_id, pos, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS tid, HEX(ENCODE(token)) AS hx FROM tokpos),
        ${HashOracleSql.fnvFmixCtes},
        hs AS (SELECT t.doc_id, t.pos, s.x AS h FROM tokh t JOIN sig s USING (tid)),
        nn AS (SELECT doc_id, MAX(pos) AS n, LEAST($window, MAX(pos)) AS w FROM hs GROUP BY 1),
        starts AS (
          SELECT doc_id, w, UNNEST(GENERATE_SERIES(1, n - w + 1)) AS s FROM nn),
        pw(k, p) AS (VALUES $pw),
        terms AS (
          SELECT h.doc_id, st.s, ${HashOracleSql.mulMod64("h.h", "pw.p")} AS term
          FROM starts st
          JOIN hs h ON h.doc_id = st.doc_id AND h.pos BETWEEN st.s AND st.s + st.w - 1
          JOIN pw ON pw.k = st.w - 1 - (h.pos - st.s)),
        wsum AS (SELECT doc_id, s, SUM(term) % ${HashOracleSql.M64}::HUGEINT AS hw
                 FROM terms GROUP BY 1, 2),
        fp AS (SELECT doc_id, MIN(${HashOracleSql.wrapSigned("hw")}) AS fingerprint
               FROM wsum GROUP BY 1)
        SELECT doc_id, fingerprint FROM fp ORDER BY doc_id"""
  }

  /** The documents table staged as a THREE-file (doc_id, lang, text)
    * parquet feed, so q113's sketch stream drains >= 3 micro-batches
    * under maxFilesPerTrigger=1 (the q92 feed pattern, plus the lang
    * grouping column).
    */
  private def stagedDocsLangFeedDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_docs_lang_feed",
      Seq(s"$dir/documents.parquet"), "files=3", "_SUCCESS") { stage =>
      table(s, dir, "documents").select("doc_id", "lang", "text")
        .repartition(3)
        .write.mode("overwrite").parquet(stage)
    }

  /** The documents table re-emitted as a THREE-file WARC crawl archive
    * (one gzip member per response record, the Common Crawl layout) plus
    * one deliberately TRUNCATED file — q117's input. Built once per
    * source state like every stage; the writer runs on executors (one
    * file per partition, no driver collect).
    */
  private def stagedWarcDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_warc",
      Seq(s"$dir/documents.parquet"), "files=3+trunc", "_STAGED") { stage =>
      graft.sources.Warc.writeResponses(
        table(s, dir, "documents")
          .select(
            concat(lit("https://"), col("source"), lit("/doc/"), col("doc_id")).as("url"),
            encode(coalesce(col("text"), lit("")), "UTF-8").as("body"))
          .repartition(3),
        stage)
      graft.sources.Warc.writeTruncatedFixture(s, stage)
      // completion marker, created LAST per the Staging contract
      val p = new org.apache.hadoop.fs.Path(stage, "_STAGED")
      p.getFileSystem(s.sessionState.newHadoopConf()).create(p, true).close()
    }

  /** q119's DuckDB twin: the same deterministic messy-URL synthesis, then
    * every canonicalization step of
    * [[graft.functions.TextFunctions.canonicalUrl]] with the SAME
    * regexes (list ops via LIST_FILTER/LIST_SORT, empty-query handling
    * via the same LEN guard).
    */
  /** q119's deterministic messy-URL synthesis (Spark side), shared with
    * the q131 composed pipeline; [[dirtyUrlSqlExpr]] is its SQL twin —
    * the two must stay variant-for-variant identical.
    */
  /** q153's planted encoding damage, built FROM [[graft.functions
    * .TextFunctions.mojibakePairs]] (indices pinned) so the injection
    * and the repair table cannot drift: a doc_id-varying repeat of Ã©
    * plus one of each â€x artifact and two Ãx artifacts.
    */
  private[queries] lazy val mojibakeTail: String = {
    val bad = graft.functions.TextFunctions.mojibakePairs.map(_._1)
    s" don${bad(0)}t ${bad(1)} ${bad(2)}na${bad(7)}ve${bad(3)} ${bad(6)}u"
  }

  private[queries] def mojibakeDirty: org.apache.spark.sql.Column = {
    val acute = graft.functions.TextFunctions.mojibakePairs(4)._1
    when(pmod(col("doc_id"), lit(6)) === 1,
      concat(col("text"), lit(" caf"),
        expr(s"repeat('$acute', CAST(1 + doc_id % 3 AS INT))"),
        lit(mojibakeTail)))
      .otherwise(col("text"))
  }

  /** The same construction and replace chain as DuckDB SQL. */
  private[queries] lazy val mojibakeSql: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val acute = graft.functions.TextFunctions.mojibakePairs(4)._1
    val dirty =
      s"""CASE WHEN doc_id % 6 = 1
            THEN text || ' caf' || REPEAT(${q(acute)}, CAST(1 + doc_id % 3 AS INT)) || ${q(mojibakeTail)}
            ELSE text END"""
    val nMoji = graft.functions.TextFunctions.mojibakePairs
      .map { case (bad, _) => s"LEN(REGEXP_EXTRACT_ALL(dirty, ${q(bad)}))" }
      .mkString(" + ")
    val fixed = graft.functions.TextFunctions.mojibakePairs
      .foldLeft("dirty") { case (acc, (bad, good)) =>
        s"REGEXP_REPLACE($acc, ${q(bad)}, ${q(good)}, 'g')"
      }
    s"""WITH d AS (SELECT doc_id, $dirty AS dirty FROM documents)
        SELECT doc_id,
               CAST($nMoji AS BIGINT) AS n_moji,
               ($nMoji > 0) AS changed,
               CAST(LEN(dirty) AS BIGINT) AS n_dirty,
               CAST(LEN($fixed) AS BIGINT) AS n_fixed,
               MD5($fixed) AS fixed_fp
        FROM d ORDER BY doc_id"""
  }

  private[queries] def dirtyUrl(docId: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val id = docId.cast("string")
    val v = pmod(docId, lit(5))
    when(v === 0, concat(lit("HTTP://WWW."), source,
        lit(".Example.COM:80/Docs/"), id, lit("/?utm_source=feed&b=2&a=1#top")))
      .when(v === 1, concat(lit("https://www."), source,
        lit(".example.com:443/docs/"), id))
      .when(v === 2, concat(lit("https://Www."), source,
        lit(".Example.Com/docs/"), id, lit("?z=9&fbclid=abc&a=1")))
      .when(v === 3, concat(lit("http://www."), source,
        lit(".example.com/docs/"), id, lit("///")))
      .otherwise(concat(lit("HtTpS://WWW."), source,
        lit(".EXAMPLE.com:443/DOCS/"), id, lit("?gclid=1&ref=tw#frag")))
  }

  private[queries] val dirtyUrlSqlExpr: String = """CASE doc_id % 5
        WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Docs/' || doc_id || '/?utm_source=feed&b=2&a=1#top'
        WHEN 1 THEN 'https://www.' || source || '.example.com:443/docs/' || doc_id
        WHEN 2 THEN 'https://Www.' || source || '.Example.Com/docs/' || doc_id || '?z=9&fbclid=abc&a=1'
        WHEN 3 THEN 'http://www.' || source || '.example.com/docs/' || doc_id || '///'
        ELSE 'HtTpS://WWW.' || source || '.EXAMPLE.com:443/DOCS/' || doc_id || '?gclid=1&ref=tw#frag'
        END"""

  /** The q119 canonicalization as a CTE chain over any `(doc_id, source)`
    * relation, ending at `urlc(doc_id, url_raw, url_canon)` — shared by
    * the q119 oracle and the q131 composed-pipeline oracle (prefixed
    * names so the composition has no CTE collisions).
    */
  private[queries] def urlCanonCtes(from: String): String =
    s"""uraw AS (SELECT doc_id, $dirtyUrlSqlExpr AS u FROM $from),
        uparts AS (
          SELECT doc_id, u,
            LOWER(REGEXP_EXTRACT(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            LOWER(REGEXP_EXTRACT(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
            REGEXP_REPLACE(REGEXP_EXTRACT(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$$', '') AS path,
            REGEXP_EXTRACT(u, '\\?([^#]*)', 1) AS qs
          FROM uraw),
        ukept AS (
          SELECT *, LIST_SORT(LIST_FILTER(STRING_SPLIT(qs, '&'),
              p -> p <> '' AND NOT REGEXP_MATCHES(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$$)'))) AS keep
          FROM uparts),
        urlc AS (
          SELECT doc_id, u AS url_raw,
            scheme || '://' ||
            CASE WHEN scheme = 'http' THEN REGEXP_REPLACE(auth, ':80$$', '')
                 WHEN scheme = 'https' THEN REGEXP_REPLACE(auth, ':443$$', '')
                 ELSE auth END ||
            path ||
            CASE WHEN LEN(keep) > 0 THEN '?' || ARRAY_TO_STRING(keep, '&') ELSE '' END AS url_canon
          FROM ukept)"""

  private lazy val urlCanonSql: String =
    s"""WITH ${urlCanonCtes("documents")}
        SELECT doc_id, url_raw, url_canon FROM urlc ORDER BY doc_id"""

  /** q121's DISTRIBUTED-trained BPE model, staged once per corpus state:
    * the full word-frequency table (no top-N cap, words never collected)
    * through [[graft.operators.Bpe.trainDistributed]] — `bpeNumMerges`
    * rounds of one map-side-combined pair-count aggregate each, argmax
    * pair to the driver per round (the documented cost model).
    */
  private[queries] def stagedBpeModelDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_bpe_model_dist",
      Seq(s"$dir/documents.parquet"), s"full:m$bpeNumMerges", "meta/_SUCCESS") { stage =>
      val wf = table(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("f"))
      graft.operators.Bpe.save(s,
        graft.operators.Bpe.trainDistributed(wf, numMerges = bpeNumMerges), stage)
    }

  /** q118's trained classifier model, staged once per corpus state
    * (train-once/score-many: training is `iters` distributed passes, so
    * repeated bench/verify runs must reuse it, not retrain).
    */
  private[queries] def stagedClfModelDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_clf_model",
      Seq(s"$dir/documents.parquet"), "n3:dim1024:it6:lr4:y=en", "meta/_SUCCESS") { stage =>
      graft.operators.QualityClassifier.save(s,
        graft.operators.QualityClassifier.train(
          table(s, dir, "documents").withColumn("y", col("lang") === "en"),
          labelCol = "y"),
        stage)
    }

  /** The documents table staged as a 3-file doc_id-sorted ORC dataset —
    * q133's input (the q117 WARC staging pattern on the other columnar
    * format). Sorting by doc_id gives the stripes disjoint doc_id
    * min/max ranges, the layout ORC's predicate pushdown skips on.
    */
  private[queries] def stagedOrcDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_docs_orc",
      Seq(s"$dir/documents.parquet"), "files=3:sort=doc_id", "_SUCCESS") { stage =>
      table(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars", "text")
        .repartition(3)
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").orc(stage)
    }

  private[queries] val avroDocsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  /** The documents table staged as a 3-file doc_id-sorted Avro dataset —
    * q135's input (the q133 staging pattern on the row format).
    */
  private[queries] def stagedAvroDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_docs_avro",
      Seq(s"$dir/documents.parquet"), "files=3:sort=doc_id:v1", "_SUCCESS") { stage =>
      graft.sources.Avro.write(
        table(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars", "text")
          .repartition(3)
          .sortWithinPartitions("doc_id"),
        stage)
    }

  /** q145's unigram model, staged once per corpus state (the
    * [[stagedBpeModelDir]] contract): pieces learned from the corpus
    * word-frequency table — singles all kept, multis top-V by count.
    */
  private[queries] def stagedUnigramModelDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_unigram_model",
      Seq(s"$dir/documents.parquet"), "L4:min2:v256", "meta/_SUCCESS") { stage =>
      val wf = table(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("f"))
      graft.operators.UnigramTokenizer.save(s,
        graft.operators.UnigramTokenizer.train(wf), stage)
    }

  override def stages: Map[String, (SparkSession, String) => String] = Map(
    "bpe_model_dist" -> (stagedBpeModelDir _),
    "unigram_model" -> (stagedUnigramModelDir _),
    "clf_model" -> (stagedClfModelDir _),
    "docs_avro" -> (stagedAvroDir _),
    "docs_lang_feed" -> (stagedDocsLangFeedDir _),
    "docs_orc" -> (stagedOrcDir _),
    "warc_archive" -> (stagedWarcDir _))

  private val docsLangFeedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  // q111 BPE parameters: top-N training words (bounded driver collect)
  // and merge-table size
  private val bpeTrainWords = 256
  private val bpeNumMerges = 50
  // the merges/vocab are LEARNED, so q111's oracle is generated when the
  // query runs (the AnnQueries q39 pattern: capture the learned state as
  // SQL literals, replay the algorithm's arithmetic)
  @volatile private var bpeOracle111: Option[() => String] = None
  @volatile private var bpeOracle121: Option[() => String] = None
  // q118's oracle is likewise generated at query time (learned weights
  // as SQL literals)
  @volatile private var clfOracle118: Option[() => String] = None
  // q145's oracle splices the staged unigram model's integer scores
  @volatile private var unigramOracle145: Option[() => String] = None

  /** DuckDB twin of the unigram Viterbi tokenization (q145): the staged
    * model's (piece, micro-nat score) rows as literals, the word set
    * (tokens ∪ adjacent compounds) rebuilt from the same chain, and the
    * DP replayed as a recursive CTE — per position the best predecessor
    * is max((v + SHIFT)·64 + j), the arithmetic encoding of "highest
    * score, ties to the largest split point" (valid because words are
    * capped at [[graft.operators.UnigramTokenizer.maxWordLen]] < 64).
    */
  private def unigramSql(model: graft.operators.UnigramTokenizer.Model): String = {
    val L = model.maxPieceLen
    val shift = 1L << 40
    val maxW = graft.operators.UnigramTokenizer.maxWordLen
    val vocabVals = model.pieces
      .map { case (p, sc) => s"('${p.replace("'", "''")}', ${sc}::BIGINT)" }
      .mkString(", ")
    s"""WITH RECURSIVE
       toks0 AS (SELECT doc_id, $toks AS t FROM documents),
       tokpos AS (SELECT doc_id, i AS pos, t[i] AS token
                  FROM toks0, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t))) AS i) u),
       tok AS (SELECT * FROM tokpos WHERE token <> ''),
       pr AS (SELECT doc_id,
                     LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
                     token AS cur
              FROM tok),
       allw AS (SELECT token AS w FROM tok
                UNION ALL
                SELECT prev || cur AS w FROM pr WHERE prev IS NOT NULL),
       ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM allw
              WHERE LEN(w) <= $maxW GROUP BY w),
       vocab(p, sc) AS (SELECT * FROM (VALUES $vocabVals) v(p, sc)),
       pos AS (SELECT w, UNNEST(GENERATE_SERIES(1, LEN(w))) AS i FROM ws),
       cand AS (SELECT w, i,
                       UNNEST(GENERATE_SERIES(GREATEST(i - $L, 0), i - 1)) AS j
                FROM pos),
       edges AS (
         SELECT c.w, c.j, c.i,
                CASE WHEN c.i - c.j = 1 THEN COALESCE(v.sc, ${model.unkMicro})
                     ELSE v.sc END AS sc
         FROM cand c LEFT JOIN vocab v ON v.p = SUBSTR(c.w, c.j + 1, c.i - c.j)
         WHERE NOT (c.i - c.j > 1 AND v.sc IS NULL)),
       dp AS (
         SELECT w, 0 AS i, [CAST(0 AS BIGINT)] AS vs, [''] AS segs FROM ws
         UNION ALL
         SELECT w, i,
                LIST_APPEND(vs, (key // 64) - $shift) AS vs,
                LIST_APPEND(segs,
                  CASE WHEN (key % 64) = 0 THEN ''
                       ELSE segs[CAST(key % 64 AS INT) + 1] || ' ' END
                    || SUBSTR(w, CAST(key % 64 AS INT) + 1,
                              i - CAST(key % 64 AS INT))) AS segs
         FROM (
           SELECT d.w, d.i + 1 AS i, d.vs AS vs, d.segs AS segs,
                  (SELECT MAX((d.vs[e.j + 1] + e.sc + $shift) * 64 + e.j)
                   FROM edges e WHERE e.w = d.w AND e.i = d.i + 1) AS key
           FROM dp d WHERE d.i < LEN(d.w)) t)
       SELECT d.w AS word, ws.n_w,
              d.vs[LEN(d.w) + 1] AS score_micro,
              CAST(LEN(STRING_SPLIT(d.segs[LEN(d.w) + 1], ' ')) AS BIGINT) AS n_pieces,
              d.segs[LEN(d.w) + 1] AS seg
       FROM dp d JOIN ws ON ws.w = d.w
       WHERE d.i = LEN(d.w)
       ORDER BY word"""
  }

  /** DuckDB twin of the quality-classifier SCORING pass (training stays
    * engine-side; its output — the micro-quantized weights — are spliced
    * as literals, the q39/q111 generated-oracle pattern): char n-grams by
    * codepoint SUBSTR, bucket = hash mod dim via the shared HUGEINT
    * chain (dim a power of two, so unsigned mod == the kernel's low-bit
    * mask), integer micro-unit logit, the one EXP inside ROUND(...,6).
    */
  /** The classifier SCORING chain over any `(doc_id, text)` relation,
    * ending at `cagg(doc_id, dot, ng)` — shared by the q118 oracle and
    * the q131 composed-pipeline oracle. Splices [[HashOracleSql
    * .fnvFmixCtes]], which may appear ONCE per statement (fixed CTE
    * names over `tokh`), so a composed statement may contain exactly one
    * hash-chain consumer — here, the char-gram bucketing.
    */
  private[queries] def clfCtes(
      model: graft.operators.QualityClassifier.Model, from: String): String = {
    val n = model.n
    s"""nrm AS (SELECT doc_id, $norm AS t FROM $from),
        grams AS (
          SELECT doc_id, i, SUBSTR(t, i, $n) AS gm
          FROM nrm, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${n - 1})) AS i) u
          WHERE LEN(t) >= $n),
        tokh AS (SELECT doc_id * 1000000 + i AS tid, doc_id, HEX(ENCODE(gm)) AS hx
                 FROM grams),
        ${HashOracleSql.fnvFmixCtes},
        bkt AS (SELECT t.doc_id, CAST(s.x % ${model.dim} AS INT) AS b
                FROM sig s JOIN tokh t USING (tid)),
        wt AS (SELECT [${model.weightsMicro.mkString(", ")}]::BIGINT[] AS ws),
        dots AS (SELECT doc_id, SUM(ws[b + 1]) AS dot, COUNT(*) AS ng
                 FROM bkt CROSS JOIN wt GROUP BY 1),
        cagg AS (SELECT d.doc_id, COALESCE(t.dot, 0) AS dot, COALESCE(t.ng, 0) AS ng
                 FROM $from d LEFT JOIN dots t USING (doc_id))"""
  }

  /** The exact integer keep decision over `cagg`'s columns. */
  private[queries] def clfKeepSql(
      model: graft.operators.QualityClassifier.Model): String =
    s"(${model.biasMicro} * CASE WHEN ng > 0 THEN ng ELSE 1 END + dot) >= 0"

  private def clfSql(model: graft.operators.QualityClassifier.Model): String =
    s"""WITH RECURSIVE
        ${clfCtes(model, "documents")}
        SELECT doc_id,
               ROUND(1.0 / (1.0 + EXP(-((CAST(${model.biasMicro} AS DOUBLE)
                   + CASE WHEN ng > 0 THEN CAST(dot AS DOUBLE) / CAST(ng AS DOUBLE)
                          ELSE 0.0 END) / 1000000.0))), 6) AS score,
               ${clfKeepSql(model)} AS keep
        FROM cagg ORDER BY doc_id"""

  private[queries] def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB twin of the greedy BPE apply: one recursion step merges the
    * LEFTMOST occurrence of the lowest-ranked adjacent pair (sentinel
    * 1000000 = "pair not in the merge table"); a word's final state is
    * its max-iteration row. Codepoint-based SUBSTRING mirrors the
    * kernel's codepoint split; ARRAY_TO_STRING(NULL-on-empty) is
    * COALESCEd to '' to match concat_ws.
    */
  /** (adjacent pair -> merge rank) CASE body, shared by the q111/q121
    * oracles and the q131 composed pipeline's piece-count recursion.
    */
  private[queries] def bpeRankCase(model: graft.operators.Bpe.Model): String =
    model.merges.zipWithIndex.map { case ((l, r), i) =>
      s"WHEN ${sqlStr(l)} || CHR(1) || ${sqlStr(r)} THEN $i"
    }.mkString(" ")

  private def bpeSql(model: graft.operators.Bpe.Model): String = {
    val rankCase = bpeRankCase(model)
    val vocabCase = model.vocab.map { case (p, id) =>
      s"WHEN ${sqlStr(p)} THEN $id"
    }.mkString(" ")
    s"""WITH RECURSIVE
        words AS (
          SELECT doc_id, UNNEST(t) AS word,
                 UNNEST(GENERATE_SERIES(1, LEN(t))) - 1 AS pos
          FROM (SELECT doc_id, $toks AS t FROM documents)),
        enc AS (
          SELECT doc_id, pos, word,
                 LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(word)),
                   i -> SUBSTRING(word, i, 1)) AS syms,
                 0 AS it
          FROM words
          UNION ALL
          SELECT doc_id, pos, word,
                 syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:], it + 1
          FROM (
            SELECT doc_id, pos, word, syms, it,
                   LIST_POSITION(rk, LIST_MIN(rk)) AS bi, LIST_MIN(rk) AS mn
            FROM (
              SELECT doc_id, pos, word, syms, it,
                     LIST_TRANSFORM(GENERATE_SERIES(1, LEN(syms) - 1),
                       i -> CASE syms[i] || CHR(1) || syms[i+1]
                              $rankCase ELSE 1000000 END) AS rk
              FROM enc)
          ) WHERE mn < 1000000),
        fin AS (
          SELECT doc_id, pos, word, syms,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, pos ORDER BY it DESC) AS rn
          FROM enc)
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, word,
               COALESCE(ARRAY_TO_STRING(syms, ' '), '') AS pieces,
               COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(syms, p ->
                 CAST(CASE p $vocabCase ELSE 0 END AS VARCHAR)), ','), '') AS ids
        FROM fin WHERE rn = 1
        ORDER BY doc_id, pos"""
  }

  // q126/q127 KMV parameters
  private val kmvK = 64

  /** (lang, shingle) rows — the KMV queries' shared input shape: word
    * 3-grams give each lang a few-thousand-element value set at the
    * verify SF, so the threshold-estimator branch (distinct > k) and
    * the between-group overlap are actually exercised (plain tokens
    * top out at ~31 distinct per lang — all-exact, no estimation).
    */
  private def langTokens(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    table(s, dir, "documents")
      .select(col("lang"),
        explode(graft.functions.TextFunctions.shingleSet(col("text"), 3)).as("token"))

  /** q125's deterministic mixed-script synthesis: residue 0 keeps the
    * latin body; residues 1-4 truncate it to 20 chars and append a
    * repeated native-script phrase (Cyrillic/Greek/CJK/Arabic), so the
    * dominant script varies across rows. ONE constant list feeds the
    * Spark expression and the oracle SQL.
    */
  private val scriptPhrases: Seq[String] = Seq(
    "", // residue 0: latin only
    " данные поток система модель обучение корпус фильтр качество",
    " δεδομένα ροή σύστημα μοντέλο εκπαίδευση σώμα κειμένων",
    " 数据 流 系统 模型 训练 语料 过滤 质量 去重 索引",
    " بيانات تدفق نظام نموذج تدريب مدونة تصفية جودة")

  private def scriptMixedText(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = (docId % 5).cast("int")
    when(m === 0, text).otherwise(
      concat(substring(text, 1, 20),
        repeat(element_at(typedlit(scriptPhrases), m + 1), 3)))
  }

  private[queries] val norm = """REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')"""
  private[queries] val toks = s"STRING_SPLIT($norm, ' ')"
  private[queries] val nTokensSql = s"CASE WHEN LENGTH($norm) = 0 THEN 0 ELSE LEN($toks) END"
  private def markerCount(words: Seq[String]): String =
    s"LEN(LIST_FILTER($toks, x -> LIST_CONTAINS([${words.map("'" + _ + "'").mkString(",")}], x)))"

  /** The q124 Gopher rule chain over any `(doc_id, text)` relation,
    * ending at `gr(doc_id, n_words, mean_word_len, alpha_word_frac,
    * symbol_word_ratio, stop_present)` — shared by the q124 oracle and
    * the q131 composed-pipeline oracle. The verdict ([[gopherKeepSql]])
    * compares the ROUNDED metrics, the engine contract.
    */
  private[queries] def gopherRuleCtes(from: String): String = {
    val stopPresent = graft.operators.Gopher.stopwords
      .map(w => s"CAST(LIST_CONTAINS($toks, '$w') AS INT)").mkString(" + ")
    s"""gm AS (
          SELECT doc_id,
                 CAST($nTokensSql AS BIGINT) AS n_words,
                 LENGTH($norm) AS n_chars,
                 CAST(LEN(REGEXP_EXTRACT_ALL(' ' || $norm, ' [^ ]*[a-z]')) AS BIGINT) AS alpha_words,
                 CAST(LEN(REGEXP_EXTRACT_ALL(text, '#|\\.\\.\\.')) AS BIGINT) AS symbols,
                 CAST($stopPresent AS BIGINT) AS stop_present
          FROM $from),
        gr AS (
          SELECT doc_id, n_words,
                 ROUND(CASE WHEN n_words = 0 THEN 0.0
                   ELSE (n_chars - n_words + 1)::DOUBLE / n_words END, 6) AS mean_word_len,
                 ROUND(CASE WHEN n_words = 0 THEN 0.0
                   ELSE alpha_words::DOUBLE / n_words END, 6) AS alpha_word_frac,
                 ROUND(CASE WHEN n_words = 0 THEN 0.0
                   ELSE symbols::DOUBLE / n_words END, 6) AS symbol_word_ratio,
                 stop_present
          FROM gm)"""
  }

  /** The q124-site keep verdict over `gr`'s columns (word bounds fit the
    * ~25-word synthetic documents; see the q124 query comment).
    */
  private[queries] val gopherKeepSql: String =
    """(n_words >= 10 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND alpha_word_frac >= 0.8
        AND stop_present >= 1)"""

  def oracleSql: Map[String, String] = {
    val counts = langMarkers.map { case (lang, words) => lang -> markerCount(words) }
    val best = s"GREATEST(${counts.map(_._2).mkString(", ")})"
    val langCase = counts.reverse.foldLeft("'und'") { case (acc, (lang, cnt)) =>
      s"CASE WHEN $cnt = best AND best > 0 THEN '$lang' ELSE $acc END"
    }
    val punct = s"""CASE WHEN LENGTH(text) = 0 THEN 0.0
      ELSE (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE / LENGTH(text) END"""
    val stopRatio = s"""CASE WHEN LEN($toks) = 0 THEN 0.0
      ELSE ${markerCount(stopwordsEn)}::DOUBLE / LEN($toks) END"""
    val nTokens = s"CASE WHEN LENGTH($norm) = 0 THEN 0 ELSE LEN($toks) END"
    Map(
      "q28_text_langid" ->
        s"""SELECT doc_id, $langCase AS lang_pred
            FROM (SELECT doc_id, text, $best AS best FROM documents)
            ORDER BY doc_id""",
      "q29_text_quality" ->
        s"""SELECT doc_id,
                   CAST(LENGTH(text) AS BIGINT) AS n_chars_obs,
                   CAST($nTokens AS BIGINT) AS n_tokens,
                   ROUND($punct, 6) AS punct_ratio,
                   ROUND($stopRatio, 6) AS stopword_ratio,
                   ROUND((LEAST(LENGTH(text)::DOUBLE / 200.0, 1.0)
                        + GREATEST(0.0, 1.0 - ($punct) * 4.0)
                        + LEAST(($stopRatio) * 5.0, 1.0)) / 3.0, 6) AS quality
            FROM documents ORDER BY doc_id""",
      // Unicode script detection over the same deterministic synthesis:
      // per-class counts by removal (LENGTH diff), argmax with the
      // shared priority order, first-wins ties, 'und' on zero
      "q125_text_script" -> {
        val phraseCase = scriptPhrases.zipWithIndex.drop(1)
          .map { case (p, i) => s"WHEN $i THEN ${sqlStr(p)}" }.mkString(" ")
        val t2 = s"""CASE WHEN doc_id % 5 = 0 THEN text
          ELSE SUBSTR(text, 1, 20) || REPEAT(CASE doc_id % 5 $phraseCase END, 3) END"""
        val ranges = graft.functions.TextFunctions.scriptRanges
        val countCols = ranges.map { case (name, r) =>
          s"CAST(LENGTH(t2) - LENGTH(REGEXP_REPLACE(t2, '[$r]', '', 'g')) AS BIGINT) AS n_$name"
        }.mkString(",\n                   ")
        val best = s"GREATEST(${ranges.map { case (n, _) => s"n_$n" }.mkString(", ")})"
        val scriptCase = ranges.reverse.foldLeft("'und'") { case (acc, (n, _)) =>
          s"CASE WHEN n_$n = best AND best > 0 THEN '$n' ELSE $acc END"
        }
        s"""WITH t AS (SELECT doc_id, $t2 AS t2 FROM documents),
            c AS (SELECT doc_id,
                   $countCols
                  FROM t),
            b AS (SELECT *, $best AS best FROM c)
            SELECT doc_id, ${ranges.map { case (n, _) => s"n_$n" }.mkString(", ")},
                   $scriptCase AS script
            FROM b ORDER BY doc_id"""
      },
      // Gopher word-level rules: every metric recomputed from the same
      // normalized text; the verdict compares the ROUNDED metrics (the
      // engine contract — keep is a pure function of reported values).
      // ' ' || norm gives every word exactly one leading space, so one
      // non-overlapping regexp pass counts letter-bearing words
      // identically under RE2 and Java regex; LIST_CONTAINS(toks, w) ==
      // the engine's padded-substring presence test
      "q124_gopher_rules" ->
        s"""WITH ${gopherRuleCtes("documents")}
            SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
                   symbol_word_ratio, stop_present,
                   $gopherKeepSql AS keep
            FROM gr ORDER BY doc_id""",
      "q30_text_tokens" ->
        s"""SELECT doc_id,
                   CAST($nTokens AS BIGINT) AS n_ws_tokens,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents ORDER BY doc_id""",
      "q31_fingerprint_md5" ->
        s"""SELECT doc_id, MD5($norm) AS fingerprint
            FROM documents ORDER BY doc_id""",
      "q119_url_canonicalize" -> urlCanonSql,
      // q117 round-trips documents -> WARC response records -> parser;
      // the oracle rebuilds the same (url, status, body) view straight
      // from the table — the planted truncated record must NOT appear
      // q133 round-trips documents -> sorted ORC -> filtered/projected
      // scan; the oracle is the same restriction straight off the table
      // (any ORC encode/decode defect surfaces as a value mismatch)
      "q133_orc_scan" ->
        """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
           FROM documents
           WHERE lang = 'en' AND n_chars >= 200
           ORDER BY doc_id""",
      // q135 round-trips documents -> deflate Avro container files ->
      // pruned-reader-schema scan; the oracle is the same restriction
      // straight off the table (any Avro encode/decode/resolution defect
      // surfaces as a value mismatch)
      "q135_avro_scan" ->
        """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
           FROM documents
           WHERE lang = 'en' AND n_chars >= 200
           ORDER BY doc_id""",
      // q143's twin: the same salted-md5 60-bit weights (15 hex chars
      // via the '0x' cast) and the same argmax, per key per shard count
      "q143_rendezvous_reshard" ->
        """WITH k AS (
             SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) AS key
             FROM documents),
           w AS (
             SELECT doc_id, s,
                    CAST(('0x' || SUBSTR(MD5(key || '#' || s), 1, 15)) AS BIGINT) AS wt
             FROM k,
             LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 8)) AS s) u),
           a8 AS (SELECT doc_id, ARG_MAX(s, wt) AS shard_8 FROM w WHERE s < 8 GROUP BY doc_id),
           a9 AS (SELECT doc_id, ARG_MAX(s, wt) AS shard_9 FROM w GROUP BY doc_id)
           SELECT doc_id,
                  CAST(shard_8 AS BIGINT) AS shard_8,
                  CAST(shard_9 AS BIGINT) AS shard_9,
                  shard_8 <> shard_9 AS moved
           FROM a8 JOIN a9 USING (doc_id)
           ORDER BY doc_id""",
      // q141's twin rebuilds the EFFECTIVE graftbot rule set straight
      // from the synthesis arithmetic (group selection pre-applied: the
      // exact-agent group shadows '*', empty Disallow is a no-op) and
      // replays longest-match/allow-on-tie as one max over
      // octet_length*2+allow-bit (RFC 9309 specificity is octets, and
      // the engine ranks the same way) — the engine must parse the
      // policy TEXT to the same place
      "q141_robots_governance" ->
        """WITH srcs AS (
             SELECT DISTINCT source, CAST(SUBSTR(source, 4) AS INT) AS n
             FROM documents),
           rules AS (
             SELECT source, v.allow, v.path
             FROM srcs, (VALUES (FALSE, '/private/'), (TRUE, '/private/doc/'),
                                (FALSE, '/tmp/')) v(allow, path)
             WHERE n % 3 = 0
             UNION ALL
             SELECT source, FALSE, '/private/' FROM srcs WHERE n % 3 = 1
             UNION ALL
             SELECT source, v.allow, v.path
             FROM srcs, (VALUES (TRUE, '/doc/'), (FALSE, '/')) v(allow, path)
             WHERE n % 3 = 2),
           urls AS (
             SELECT doc_id, source AS domain,
                    CASE doc_id % 4
                      WHEN 0 THEN '/doc/' || doc_id
                      WHEN 1 THEN '/private/doc/' || doc_id
                      WHEN 2 THEN '/tmp/doc/' || doc_id
                      ELSE '/public/doc/' || doc_id END AS path
             FROM documents),
           m AS (
             SELECT u.doc_id, u.domain, u.path,
                    MAX(CASE WHEN r.path IS NOT NULL
                              AND STARTS_WITH(u.path, r.path)
                             THEN OCTET_LENGTH(ENCODE(r.path)) * 2 +
                                  CASE WHEN r.allow THEN 1 ELSE 0 END END) AS best
             FROM urls u LEFT JOIN rules r ON r.source = u.domain
             GROUP BY 1, 2, 3)
           SELECT doc_id, domain, path,
                  COALESCE(best % 2 = 1, TRUE) AS allowed,
                  CAST(COALESCE(best // 2, 0) AS BIGINT) AS rule_len
           FROM m ORDER BY doc_id""",
      "q117_warc_scan" ->
        """SELECT 'https://' || source || '/doc/' || doc_id AS url,
                  CAST(200 AS BIGINT) AS http_status,
                  OCTET_LENGTH(ENCODE(COALESCE(text, ''))) AS n_bytes,
                  COALESCE(text, '') AS text
           FROM documents ORDER BY url""",
      // q32's FULL twin: DuckDB recomputes the winnowing fingerprint
      // bit-exactly — per-token FNV-1a+fmix64 via the shared
      // HashOracleSql chain, then every width-w window's polynomial hash
      // Σ h_j·B^(w-1-j) mod 2^64 (w = min(5, n_tokens), matching the
      // kernel's short-doc clamp), min over the SIGNED reinterpretation
      "q32_fingerprint_rolling" -> rollingFingerprintSql(window = 5),
      "q40_curation" ->
        s"""WITH ranked AS (
              SELECT doc_id, lang, source, text,
                     ROW_NUMBER() OVER (PARTITION BY MD5($norm) ORDER BY doc_id) AS rn
              FROM documents),
            feat AS (
              SELECT doc_id, lang, source, text,
                     CAST($nTokens AS BIGINT) AS n_tokens,
                     ROUND((LEAST(LENGTH(text)::DOUBLE / 200.0, 1.0)
                          + GREATEST(0.0, 1.0 - ($punct) * 4.0)
                          + LEAST(($stopRatio) * 5.0, 1.0)) / 3.0, 6) AS quality
              FROM ranked WHERE rn = 1),
            pred AS (
              SELECT doc_id, lang, source, n_tokens, quality, $langCase AS lang_pred
              FROM (SELECT *, $best AS best FROM feat))
            SELECT doc_id, lang, source, n_tokens, quality, lang_pred
            FROM pred
            WHERE lang_pred = 'en' AND quality >= 0.4 AND n_tokens BETWEEN 20 AND 2000
            ORDER BY doc_id""",
      "q41_sample_stratified" ->
        """SELECT doc_id, lang, bucket FROM (
             SELECT doc_id, lang,
                    SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 2) AS bucket
             FROM documents)
           WHERE bucket < CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END
           ORDER BY doc_id""",
      "q75_grouped_sample" ->
        """SELECT doc_id, lang, rk FROM (
             SELECT doc_id, lang,
                    CAST(ROW_NUMBER() OVER (
                      PARTITION BY lang
                      ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':sample'), doc_id)
                      AS BIGINT) AS rk
             FROM documents)
           WHERE rk <= 5
           ORDER BY lang, rk""",
      // the host replayed by construction (source || '.example.com' —
      // DuckDB has no parse_url); same salted-md5 fixed-k rank rule as q75
      "q110_domain_cap" ->
        """SELECT doc_id, domain, rk FROM (
             SELECT doc_id, source || '.example.com' AS domain,
                    CAST(ROW_NUMBER() OVER (
                      PARTITION BY source
                      ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':domcap'), doc_id)
                      AS BIGINT) AS rk
             FROM documents)
           WHERE rk <= 15
           ORDER BY domain, rk""",

      // same md5 hex-pair rule, CASE-encoded: base copies + one more when
      // the pair falls under the group's fractional threshold
      "q80_mixture_resample" ->
        """WITH w AS (
             SELECT doc_id, source,
                    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                         WHEN 'src5' THEN 1 WHEN 'src6' THEN 3
                         WHEN 'src8' THEN 1 ELSE 0 END AS base,
                    CASE source WHEN 'src0' THEN '7f' WHEN 'src2' THEN '7f'
                         WHEN 'src3' THEN '3f' WHEN 'src5' THEN 'bf'
                         WHEN 'src7' THEN '1f' END AS thr
             FROM documents
             WHERE source IN ('src0','src1','src2','src3','src4',
                              'src5','src6','src7','src8')),
           n AS (
             SELECT doc_id, source,
                    base + CASE WHEN thr IS NOT NULL
                                  AND SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 2) <= thr
                                THEN 1 ELSE 0 END AS n_copies
             FROM w)
           SELECT doc_id, source, CAST(c AS BIGINT) AS copy
           FROM n, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, n_copies)) AS c) u
           WHERE n_copies > 0
           ORDER BY doc_id, copy""",
      // temperature mixture: counts -> sqrt -> power-of-two scale ->
      // floor -> the same md5 hex-pair rule; every step identically
      // rounded on both engines
      "q129_mixture_temperature" ->
        """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
           mx AS (SELECT MAX(n) AS nmax FROM c),
           w AS (SELECT lang,
                        GREATEST(CAST(FLOOR(SQRT(n::DOUBLE / nmax) * 256) AS BIGINT), 1) AS k
                 FROM c CROSS JOIN mx),
           nn AS (SELECT d.doc_id, d.lang,
                         (k // 256) + CASE WHEN k % 256 > 0
                               AND SUBSTR(MD5(CAST(d.doc_id AS VARCHAR) || ':mixT'), 1, 2)
                                   <= printf('%02x', k % 256 - 1)
                             THEN 1 ELSE 0 END AS ncop
                  FROM documents d JOIN w USING (lang))
           SELECT doc_id, lang, CAST(c AS BIGINT) AS copy
           FROM nn, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, ncop)) AS c) u
           WHERE ncop > 0
           ORDER BY doc_id, copy""",
      "q81_distinctive_terms" ->
        s"""WITH tok AS (SELECT doc_id, UNNEST($toks) AS token FROM documents),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            d AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT doc_id, token, tf, df, tf::DOUBLE / df AS score,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY tf::DOUBLE / df DESC, token) AS BIGINT) AS rank
              FROM tf JOIN d USING (token))
            SELECT doc_id, rank, token, tf, df, ROUND(score, 6) AS score
            FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""",
      "q42_token_histogram" ->
        s"""SELECT CAST(FLOOR(($nTokens) / 10) * 10 AS BIGINT) AS bucket_lo,
                   COUNT(*) AS n_docs
            FROM documents
            GROUP BY 1 ORDER BY bucket_lo""",
      "q53_vocab_df" ->
        s"""SELECT token, COUNT(*) AS df FROM (
              SELECT DISTINCT doc_id, UNNEST($toks) AS token FROM documents)
            GROUP BY token
            ORDER BY df DESC, token
            LIMIT 50""",
      // unigram NLL: ln N - mean(ln cf) per doc, cf/N from the corpus
      // itself (term frequency, not presence — no DISTINCT here).
      // LEFT JOIN from documents: zero-token docs emit (0, NULL) rather
      // than vanishing — they are precisely the docs a filter wants
      "q89_unigram_logprob" ->
        s"""WITH tok AS (
                SELECT * FROM (SELECT doc_id, UNNEST($toks) AS token FROM documents)
                WHERE token <> ''),
              cf AS (SELECT token, COUNT(*) AS cf FROM tok GROUP BY token),
              n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
              per AS (
                SELECT t.doc_id, COUNT(*) AS n_tokens,
                       ROUND(LN((SELECT n FROM n)) - AVG(LN(cf.cf)), 6) AS nll
                FROM tok t JOIN cf USING (token)
                GROUP BY t.doc_id)
            SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens, p.nll
            FROM documents d LEFT JOIN per p USING (doc_id)
            ORDER BY doc_id""",
      // bigram NLL with add-one smoothing: every position scores its
      // transition, position 1 against the BOS '' context; p(cur|prev) =
      // (bcf+1)/(ctx+V). LEFT JOIN keeps zero-token docs as (0, NULL)
      "q97_bigram_logprob" ->
        s"""WITH $bigramNllCtes
            SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens, p.nll
            FROM documents d LEFT JOIN per p USING (doc_id)
            ORDER BY doc_id""",
      // interpolated Kneser-Ney over the same bigram counts: every KN
      // ingredient is an integer aggregate of bcf; the per-pair
      // probability expression is written op-for-op like the engine's
      // (GREATEST/divisions/product/sum in the same tree), so the
      // doubles agree and the 6-dp per-doc mean hash-compares (the q97
      // discipline)
      "q134_kneser_ney_logprob" ->
        s"""WITH $bigramNllCtes,
            kctx AS (SELECT prev, SUM(bcf) AS kx, COUNT(*) AS n1p FROM bcf GROUP BY prev),
            kn1c AS (SELECT cur, COUNT(*) AS n1c FROM bcf GROUP BY cur),
            kb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM bcf),
            pairn AS (
              SELECT b.prev, b.cur,
                     LN(GREATEST(b.bcf - 0.75, 0.0) / kctx.kx
                        + ((0.75 * kctx.n1p) / kctx.kx)
                          * (kn1c.n1c / (SELECT bt FROM kb))) AS lnp
              FROM bcf b JOIN kctx USING (prev) JOIN kn1c USING (cur)),
            kper AS (
              SELECT g.doc_id, COUNT(*) AS n_tokens,
                     ROUND(AVG(-p.lnp), 6) AS nll
              FROM bg g JOIN pairn p USING (prev, cur)
              GROUP BY g.doc_id)
            SELECT d.doc_id, COALESCE(k.n_tokens, 0) AS n_tokens, k.nll
            FROM documents d LEFT JOIN kper k USING (doc_id)
            ORDER BY doc_id""",
      // DSIR: the same gram/hash chain as the q118 classifier (SUBSTR
      // grams over the normalized text, FNV-1a64+fmix64, low-bits
      // bucket), per-bucket micro-nat log-ratio in the identical IEEE
      // expression, per-doc weight an exact integer SUM, top-10% flag
      // by (weight desc, id)
      // C4 line rules over the same synthesized pages: line-keep =
      // terminal punct + >= 3 words + no 'javascript' (case-folded);
      // page-keep = no 'lorem ipsum', no '{', >= 2 kept lines. Word
      // count splits on WHITESPACE RUNS (\s+), both engines — the C4
      // paper's word semantics (r13 advice)
      "q216_c4_line_filter" ->
        """WITH base AS (
             SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN 'You need Javascript enabled to continue.'
                    ELSE 'This page renders fine without any scripts.' END
               || chr(10) || COALESCE(text, '') || '.'
               || chr(10) || 'click here'
               || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'function() return curly brace {' ELSE '' END
               AS t
             FROM documents),
           ls AS (SELECT doc_id, t, STRING_SPLIT(t, chr(10)) AS l FROM base),
           ln AS (SELECT doc_id, i, l[i] AS line
                  FROM ls, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(l))) AS i) u),
           keptl AS (SELECT doc_id, i, line FROM ln
                     WHERE REGEXP_MATCHES(line, '[.!?"]$')
                       AND LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(line), '\s+')) >= 3
                       AND NOT CONTAINS(LOWER(line), 'javascript')),
           counts AS (SELECT doc_id, COUNT(*) AS n_lines FROM ln GROUP BY 1),
           kc AS (SELECT doc_id, COUNT(*) AS n_kept,
                         STRING_AGG(line, chr(10) ORDER BY i) AS clean
                  FROM keptl GROUP BY 1)
           SELECT b.doc_id,
                  (NOT CONTAINS(LOWER(b.t), 'lorem ipsum')
                   AND NOT CONTAINS(b.t, '{')
                   AND COALESCE(k.n_kept, 0) >= 2) AS page_kept,
                  c.n_lines,
                  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept_lines,
                  COALESCE(k.clean, '') AS clean_text
           FROM base b JOIN counts c USING (doc_id)
           LEFT JOIN kc k USING (doc_id)
           ORDER BY doc_id""",
      "q214_dsir_selection" -> dsirSql("", "d.lang = 'en'"),
      // the streaming twin shares the identical algebra over the
      // increment population: the drained count table is bit-identical
      // to the batch one (plain-sum merge law), so the oracle IS the
      // batch oracle restricted to the feed's rows with the feed's
      // derivable target marker
      "q215_dsir_counts_stream" ->
        dsirSql("WHERE doc_id >= 250", "d.doc_id % 2 = 0"),
      // the serving half scores per micro-batch against the FROZEN
      // score table and selects at drain: weights are batch-independent,
      // so the oracle is q215's statement verbatim
      "q220_dsir_select_stream" ->
        dsirSql("WHERE doc_id >= 250", "d.doc_id % 2 = 0"),
      // trigram interpolated KN: raw counts at the top order,
      // continuation (type) counts below, every lower-order table an
      // integer aggregate of the trigram-type table; the three-level
      // probability expression is written op-for-op like the engine's
      // (GREATEST/divisions/nested interpolation in the same tree) so
      // the doubles agree at the 6-dp per-doc mean
      "q212_kneser_ney_trigram" ->
        s"""WITH $bigramNllCtes,
            tg3 AS (
              SELECT doc_id,
                     COALESCE(LAG(token, 2) OVER (PARTITION BY doc_id ORDER BY pos), '') AS p2,
                     COALESCE(LAG(token) OVER (PARTITION BY doc_id ORDER BY pos), '') AS p1,
                     token AS cur
              FROM tok),
            tcf AS (SELECT p2, p1, cur, COUNT(*) AS tcf FROM tg3 GROUP BY 1, 2, 3),
            tctx AS (SELECT p2, p1, SUM(tcf) AS ctx3, COUNT(*) AS n1p3 FROM tcf GROUP BY 1, 2),
            tc2 AS (SELECT p1, cur, COUNT(*) AS c2 FROM tcf GROUP BY 1, 2),
            tmid AS (SELECT p1, SUM(c2) AS cmid, COUNT(*) AS n1pmid FROM tc2 GROUP BY 1),
            tc1 AS (SELECT cur, COUNT(*) AS c1 FROM tc2 GROUP BY 1),
            tbt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM tc2),
            tripn AS (
              SELECT t.p2, t.p1, t.cur,
                     LN(GREATEST(t.tcf - 0.75, 0.0) / x.ctx3
                        + ((0.75 * x.n1p3) / x.ctx3)
                          * (GREATEST(c.c2 - 0.75, 0.0) / m.cmid
                             + ((0.75 * m.n1pmid) / m.cmid)
                               * (u.c1 / (SELECT bt FROM tbt)))) AS lnp
              FROM tcf t JOIN tctx x USING (p2, p1) JOIN tc2 c USING (p1, cur)
              JOIN tmid m USING (p1) JOIN tc1 u USING (cur)),
            tper AS (
              SELECT g.doc_id, COUNT(*) AS n_tokens,
                     ROUND(AVG(-p.lnp), 6) AS nll
              FROM tg3 g JOIN tripn p USING (p2, p1, cur)
              GROUP BY g.doc_id)
            SELECT d.doc_id, COALESCE(k.n_tokens, 0) AS n_tokens, k.nll
            FROM documents d LEFT JOIN tper k USING (doc_id)
            ORDER BY doc_id""",
      // 4-gram KN: the same recursion one level up, lower-order tables
      // telescoping by successive type-count GROUP BYs (qc3 counts
      // distinct p3 per (p2, p1, cur), qc2 distinct p2 per (p1, cur))
      "q232_kneser_ney_4gram" ->
        s"""WITH $bigramNllCtes,
            qg4 AS MATERIALIZED (
              SELECT doc_id,
                     COALESCE(LAG(token, 3) OVER (PARTITION BY doc_id ORDER BY pos), '') AS p3,
                     COALESCE(LAG(token, 2) OVER (PARTITION BY doc_id ORDER BY pos), '') AS p2,
                     COALESCE(LAG(token) OVER (PARTITION BY doc_id ORDER BY pos), '') AS p1,
                     token AS cur
              FROM tok),
            qcf AS MATERIALIZED (SELECT p3, p2, p1, cur, COUNT(*) AS qcf FROM qg4 GROUP BY 1, 2, 3, 4),
            qctx AS (SELECT p3, p2, p1, SUM(qcf) AS ctx4, COUNT(*) AS n1p4 FROM qcf GROUP BY 1, 2, 3),
            qc3 AS MATERIALIZED (SELECT p2, p1, cur, COUNT(*) AS c3 FROM qcf GROUP BY 1, 2, 3),
            qmid3 AS (SELECT p2, p1, SUM(c3) AS cmid3, COUNT(*) AS n1pmid3 FROM qc3 GROUP BY 1, 2),
            qc2 AS MATERIALIZED (SELECT p1, cur, COUNT(*) AS c2 FROM qc3 GROUP BY 1, 2),
            qmid2 AS (SELECT p1, SUM(c2) AS cmid2, COUNT(*) AS n1pmid2 FROM qc2 GROUP BY 1),
            qc1 AS (SELECT cur, COUNT(*) AS c1 FROM qc2 GROUP BY 1),
            qbt AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM qc2),
            quadn AS MATERIALIZED (
              SELECT t.p3, t.p2, t.p1, t.cur,
                     LN(GREATEST(t.qcf - 0.75, 0.0) / x.ctx4
                        + ((0.75 * x.n1p4) / x.ctx4)
                          * (GREATEST(c.c3 - 0.75, 0.0) / m.cmid3
                             + ((0.75 * m.n1pmid3) / m.cmid3)
                               * (GREATEST(b.c2 - 0.75, 0.0) / n.cmid2
                                  + ((0.75 * n.n1pmid2) / n.cmid2)
                                    * (u.c1 / (SELECT bt FROM qbt))))) AS lnp
              FROM qcf t JOIN qctx x USING (p3, p2, p1) JOIN qc3 c USING (p2, p1, cur)
              JOIN qmid3 m USING (p2, p1) JOIN qc2 b USING (p1, cur)
              JOIN qmid2 n USING (p1) JOIN qc1 u USING (cur)),
            qper AS (
              SELECT g.doc_id, COUNT(*) AS n_tokens,
                     ROUND(AVG(-p.lnp), 6) AS nll
              FROM qg4 g JOIN quadn p USING (p3, p2, p1, cur)
              GROUP BY g.doc_id)
            SELECT d.doc_id, COALESCE(k.n_tokens, 0) AS n_tokens, k.nll
            FROM documents d LEFT JOIN qper k USING (doc_id)
            ORDER BY doc_id""",
      // CCNet buckets: q97's per-doc nll (engine-identical at 6 dp)
      // scaled to integer micro-nats, tercile thresholds from the q112
      // bottom-k sketch (same hash chain, salt q114), bucket by CASE
      "q114_ccnet_buckets" ->
        s"""WITH RECURSIVE $bigramNllCtes,
              scored AS (
                SELECT doc_id, CAST(ROUND(nll * 1000000, 0) AS BIGINT) AS score
                FROM per WHERE nll IS NOT NULL),
              tokh AS (SELECT doc_id AS tid,
                              HEX(ENCODE('q114:' || CAST(doc_id AS VARCHAR))) AS hx
                       FROM scored),
              ${HashOracleSql.fnvFmixCtes},
              ranked AS (
                SELECT s2.doc_id, s2.score,
                       ROW_NUMBER() OVER (ORDER BY g.x, s2.score) AS rn
                FROM scored s2 JOIN sig g ON g.tid = s2.doc_id),
              samp AS (SELECT score FROM ranked WHERE rn <= 64),
              ordered AS (SELECT score, ROW_NUMBER() OVER (ORDER BY score) AS vr,
                                 COUNT(*) OVER () AS kk
                          FROM samp),
              thr AS (SELECT MAX(CASE WHEN vr = (kk*33 + 99)//100 THEN score END) AS t1,
                             MAX(CASE WHEN vr = (kk*67 + 99)//100 THEN score END) AS t2
                      FROM ordered)
            SELECT s.doc_id, s.score,
                   CASE WHEN s.score <= t.t1 THEN 'head'
                        WHEN s.score <= t.t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored s CROSS JOIN thr t
            ORDER BY s.doc_id""",
      // exact heavy hitters: the oracle is the full exact count — the
      // engine's MG pass only prunes candidates, never decides
      "q98_heavy_hitters" ->
        s"""WITH tok AS (
                SELECT token FROM (SELECT UNNEST($toks) AS token FROM documents)
                WHERE token <> ''),
              n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok)
            SELECT token AS item, COUNT(*) AS cnt FROM tok
            GROUP BY token
            HAVING COUNT(*) > 0.02 * (SELECT n FROM n)
            ORDER BY cnt DESC, item""",
      // BM25 (k1=1.2, b=0.75, Lucene idf). Arithmetic mirrors
      // Bm25.search literal-for-literal (parenthesization included —
      // double multiply is not associative); ranking is on the ROUNDED
      // score with doc_id tiebreak, matching the bounded top-k order
      "q99_bm25_search" -> {
        val qvals = bm25Queries
          .flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }.mkString(", ")
        val terms = bm25Queries.flatMap(_._2).distinct
          .map("'" + _ + "'").mkString(", ")
        s"""WITH dl AS (SELECT doc_id, CAST($nTokens AS BIGINT) AS dl FROM documents),
              stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                               CAST(SUM(dl) AS DOUBLE) AS sumdl FROM dl),
              tok AS (SELECT doc_id, UNNEST($toks) AS token FROM documents),
              q(query_id, token) AS (VALUES $qvals),
              tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                     FROM tok WHERE token IN ($terms) GROUP BY doc_id, token),
              df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY token),
              sc AS (SELECT q.query_id, tf.doc_id,
                            ROUND(SUM(LN(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
                              * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.sumdl / s.n))))), 6) AS score
                     FROM tf JOIN q USING (token) JOIN df USING (token)
                       JOIN dl USING (doc_id) CROSS JOIN stats s
                     GROUP BY q.query_id, tf.doc_id),
              rk AS (SELECT query_id, doc_id, score,
                            ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rnk
                     FROM sc)
            SELECT query_id, rnk AS "rank", doc_id, score FROM rk
            WHERE rnk <= 10
            ORDER BY query_id, "rank""""
      },
      // CMS heavy hitters, replayed bit-exactly: vocab token hashes via
      // the shared FNV-1a+fmix64 HUGEINT chain, then per-row buckets
      // (x*A_i + B_i) low bits — 2^64 ≡ 0 (mod 2^logW), so the un-wrapped
      // HUGEINT sum mod w equals the engine's wrapped-long masked value.
      // q116 (the grid maintained as STREAMING state, counters merge by
      // sum) shares it verbatim.
      "q103_heavy_hitters_cms" -> cmsSql,
      "q116_heavy_hitters_cms_stream" -> cmsSql,
      // dtype literals mirror Spark's simpleString for the parquet schema
      // A-ES replayed: u from the top-53 hash bits exactly as the engine
      // derives it (integer ops into an exactly-representable double);
      // the single LN is the only per-engine libm call
      "q106_weighted_sample" ->
        s"""WITH RECURSIVE
              tokh AS (SELECT doc_id, n_chars, ROW_NUMBER() OVER (ORDER BY doc_id) AS tid,
                              HEX(ENCODE(CAST(doc_id AS VARCHAR) || ':aes')) AS hx
                       FROM documents WHERE n_chars > 0),
              ${HashOracleSql.fnvFmixCtes},
              keyed AS (SELECT t.doc_id, t.n_chars,
                               LN(((s.x // 2048) + 1)::DOUBLE / 9007199254740992.0)
                                 / CAST(t.n_chars AS DOUBLE) AS key
                        FROM tokh t JOIN sig s USING (tid)),
              sel AS (SELECT doc_id, n_chars, key FROM keyed
                      ORDER BY key DESC, doc_id LIMIT 100)
            SELECT doc_id, n_chars AS weight,
                   ROUND(key, 6) AS key
            FROM sel ORDER BY doc_id""",
      "q107_rollup_source_lang" ->
        """SELECT source, lang, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
           FROM documents GROUP BY ROLLUP(source, lang)
           ORDER BY source NULLS FIRST, lang NULLS FIRST""",
      "q130_cube_source_lang" ->
        """SELECT source, lang, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gmask
           FROM documents GROUP BY CUBE(source, lang)
           ORDER BY gmask, source NULLS FIRST, lang NULLS FIRST""",
      "q153_mojibake_repair" -> mojibakeSql,
      "q184_doc_keywords" ->
        s"""WITH d AS (SELECT doc_id, $toks AS arr FROM documents),
            tok AS (SELECT doc_id, arr[i] AS token
                    FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(arr))) AS i) t
                    WHERE arr[i] <> ''),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            idf AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            w AS (SELECT tf.doc_id, tf.token,
                         tf.tf * CAST(ROUND(1000000.0 / idf.df) AS BIGINT) AS w
                  FROM tf JOIN idf USING (token)),
            r AS (SELECT doc_id, token, w,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY w DESC, token) AS rank
                  FROM w)
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, w
            FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
      "q195_neyman_sample" ->
        """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nh,
                             CAST(ROUND(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS sm
                      FROM documents GROUP BY 1),
           d AS (SELECT CAST(SUM(sm) AS BIGINT) AS d FROM c),
           q AS (SELECT lang, nh, (20 * sm * 2 + d.d) // (d.d * 2) AS quota
                 FROM c CROSS JOIN d),
           r AS (SELECT doc_id, lang,
                        CAST(ROW_NUMBER() OVER (PARTITION BY lang
                          ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':neyman'), doc_id)
                          AS BIGINT) AS rk
                 FROM documents)
           SELECT r.lang, q.nh, CAST(q.quota AS BIGINT) AS quota, r.doc_id, r.rk
           FROM r JOIN q USING (lang) WHERE r.rk <= q.quota
           ORDER BY lang, rk""",
      "q194_source_lang_chi2" ->
        """WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
                          FROM documents GROUP BY 1, 2),
           r AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
           c AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
           t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
           SELECT source, lang, o, rt, ct,
                  CAST(ROUND((CAST(o * n - rt * ct AS DOUBLE)
                              * CAST(o * n - rt * ct AS DOUBLE))
                             / (CAST(rt AS DOUBLE) * ct * n) * 1e6) AS BIGINT)
                    AS chi2_micro
           FROM cells JOIN r USING (source) JOIN c USING (lang) CROSS JOIN t
           ORDER BY source, lang""",
      "q192_url_path_rollup" ->
        """WITH u AS (
             SELECT doc_id,
                    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
                    's' || CAST(doc_id % 5 AS VARCHAR) AS seg1,
                    't' || CAST(doc_id % 11 AS VARCHAR) AS seg2
             FROM documents)
           SELECT host, seg1, seg2, COUNT(*) AS n_pages,
                  CAST(GROUPING(host) * 4 + GROUPING(seg1) * 2
                       + GROUPING(seg2) AS BIGINT) AS gmask
           FROM u GROUP BY ROLLUP (host, seg1, seg2)
           HAVING GROUPING(host) * 4 + GROUPING(seg1) * 2 + GROUPING(seg2) < 7
           ORDER BY gmask, host, seg1 NULLS FIRST, seg2 NULLS FIRST""",
      "q189_collocations_pmi" ->
        s"""WITH d AS (SELECT doc_id, $toks AS arr FROM documents),
            tok AS (SELECT doc_id, i-1 AS pos, arr[i] AS token
                    FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(arr))) AS i) t
                    WHERE arr[i] <> ''),
            uni AS (SELECT token, COUNT(*) AS u FROM tok GROUP BY 1),
            bg AS (SELECT a.token AS w0, b.token AS w1, COUNT(*) AS bcnt
                   FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   GROUP BY 1, 2),
            tot AS (SELECT (SELECT CAST(SUM(u) AS BIGINT) FROM uni) AS tu,
                           (SELECT CAST(SUM(bcnt) AS BIGINT) FROM bg) AS tb)
            SELECT w0, w1, bcnt,
                   CAST(ROUND(LN((CAST(bcnt AS DOUBLE) * tu * tu)
                                 / (CAST(tb AS DOUBLE) * ua.u * ub.u)) * 1e6)
                        AS BIGINT) AS pmi_micro
            FROM bg
            JOIN uni ua ON ua.token = bg.w0
            JOIN uni ub ON ub.token = bg.w1
            CROSS JOIN tot
            WHERE bcnt >= 5
            ORDER BY pmi_micro DESC, w0, w1 LIMIT 20""",
      "q171_phrase_search" ->
        s"""WITH d AS (SELECT doc_id, $toks AS arr FROM documents),
            tok AS (SELECT doc_id, i-1 AS pos, arr[i] AS token
                    FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(arr))) AS i) t
                    WHERE arr[i] <> ''),
            bg AS (SELECT a.token AS w0, b.token AS w1, COUNT(*) AS cnt
                   FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   GROUP BY 1, 2),
            top AS (SELECT w0, w1,
                           ROW_NUMBER() OVER (ORDER BY cnt DESC, w0, w1) AS phrase_id
                    FROM bg QUALIFY phrase_id <= 3),
            occ AS (SELECT t.phrase_id, a.doc_id, COUNT(*) AS n_occ
                    FROM top t
                    JOIN tok a ON a.token = t.w0
                    JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                               AND b.token = t.w1
                    GROUP BY 1, 2)
            SELECT o.phrase_id, t.w0, t.w1, o.doc_id, o.n_occ
            FROM occ o JOIN top t USING (phrase_id)
            ORDER BY phrase_id, doc_id""",
      "q162_token_set_ops" ->
        s"""WITH tok AS (SELECT lang, UNNEST($toks) AS token FROM documents),
            tk AS (SELECT lang, token FROM tok WHERE token <> ''),
            en AS (SELECT token FROM tk WHERE lang = 'en'),
            de AS (SELECT token FROM tk WHERE lang = 'de')
            SELECT op, token, CAST(n AS BIGINT) AS n FROM (
              SELECT 'intersect_all' AS op, token, COUNT(*) AS n
              FROM (SELECT * FROM en INTERSECT ALL SELECT * FROM de) GROUP BY 2
              UNION ALL
              SELECT 'except_all', token, COUNT(*)
              FROM (SELECT * FROM en EXCEPT ALL SELECT * FROM de) GROUP BY 2
              UNION ALL
              SELECT 'intersect', token, COUNT(*)
              FROM (SELECT * FROM en INTERSECT SELECT * FROM de) GROUP BY 2
              UNION ALL
              SELECT 'except', token, COUNT(*)
              FROM (SELECT * FROM en EXCEPT SELECT * FROM de) GROUP BY 2)
            ORDER BY op, token""",
      // same integer weights, same inverted-index join, same final
      // three-IEEE-operation cosine; rank on the UNROUNDED double
      "q152_tfidf_cosine_topk" ->
        s"""WITH toks0 AS (SELECT doc_id, $toks AS t FROM documents),
            shp AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh,
                     COUNT(*) AS tf
              FROM toks0, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS i) u
              WHERE LEN(t) >= 3
              GROUP BY 1, 2),
            dfq AS (SELECT sh, COUNT(*) AS df FROM shp GROUP BY sh),
            wv AS (SELECT doc_id, shp.sh,
                          tf * CAST(ROUND(1000000.0 / df) AS BIGINT) AS w
                   FROM shp JOIN dfq USING (sh)),
            nrm AS (SELECT doc_id, SUM(w * w) AS n2 FROM wv GROUP BY doc_id),
            dt AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.w * b.w) AS dot
                   FROM wv a JOIN wv b ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            sym AS (SELECT ia, ib, dot FROM dt
                    UNION ALL SELECT ib, ia, dot FROM dt),
            cosv AS (SELECT ia, ib,
                            CAST(dot AS DOUBLE)
                              / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))) AS c
                     FROM sym JOIN nrm na ON na.doc_id = ia
                              JOIN nrm nb ON nb.doc_id = ib),
            rk AS (SELECT ia, ib, c,
                          ROW_NUMBER() OVER (PARTITION BY ia ORDER BY c DESC, ib) AS rn
                   FROM cosv)
            SELECT ia AS doc_id, CAST(rn AS BIGINT) AS sim_rank, ib AS sim_id,
                   ROUND(c, 6) AS cosine
            FROM rk WHERE rn <= 3 ORDER BY doc_id, sim_rank""",
      "q150_grouping_sets" ->
        """SELECT source, lang, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gmask
           FROM documents
           GROUP BY GROUPING SETS ((source, lang), (source), (lang))
           ORDER BY gmask, source NULLS FIRST, lang NULLS FIRST""",
      "q108_pivot_lang_counts" -> {
        val langs = Seq("de", "en", "es", "fr", "zh")
        val cols = langs.map(l =>
          s"COUNT(*) FILTER (WHERE lang = '$l') AS $l").mkString(", ")
        s"""SELECT source, $cols
            FROM documents GROUP BY source ORDER BY source"""
      },
      "q105_profile_documents" -> {
        val colTypes = Seq(
          "doc_id" -> "bigint", "lang" -> "string",
          "source" -> "string", "n_chars" -> "bigint")
        colTypes.map { case (c, t) =>
          s"""SELECT '$c' AS "column", '$t' AS dtype,
                     COUNT(*) AS n_rows,
                     COUNT(*) - COUNT($c) AS n_nulls,
                     COUNT(DISTINCT $c) AS n_distinct,
                     CAST(MIN($c) AS VARCHAR) AS min_val,
                     CAST(MAX($c) AS VARCHAR) AS max_val
              FROM documents"""
        }.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
      },
      "q54_pack_sequences" ->
        s"""SELECT doc_id, lang, n_tokens,
                   CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS bin
            FROM (
              SELECT doc_id, lang, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM (SELECT doc_id, lang, CAST($nTokens AS BIGINT) AS n_tokens
                    FROM documents))
            ORDER BY doc_id""",
      "q68_zorder_key" -> {
        val terms = (0 until 10).map(b =>
          s"((((x >> $b) & 1) << ${2 * b + 1}) + (((y >> $b) & 1) << ${2 * b}))")
          .mkString(" + ")
        s"""WITH d AS (
              SELECT doc_id, doc_id % 1024 AS x, (doc_id * 7919) % 1024 AS y
              FROM documents)
            SELECT doc_id, x, y, CAST($terms AS BIGINT) AS z
            FROM d ORDER BY doc_id"""
      },
      "q72_zorder_key_3d" -> {
        val terms = (0 until 8).flatMap(b => Seq(
          s"(((x >> $b) & 1) << ${3 * b + 2})",
          s"(((y >> $b) & 1) << ${3 * b + 1})",
          s"(((w >> $b) & 1) << ${3 * b})")).mkString(" + ")
        s"""WITH d AS (
              SELECT doc_id, doc_id % 256 AS x, (doc_id * 7919) % 256 AS y,
                     (doc_id * 104729) % 256 AS w
              FROM documents)
            SELECT doc_id, x, y, w, CAST($terms AS BIGINT) AS z
            FROM d ORDER BY doc_id"""
      },
      "q63_text_html_strip" ->
        """WITH dirty AS (
             SELECT doc_id,
                    '<html><head><style>p{color:red}</style></head><body><p class="big">'
                    || text ||
                    '</p><script>var x = 1 < 2;</script>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</body></html>' AS d
             FROM documents)
           SELECT doc_id,
                  TRIM(REGEXP_REPLACE(
                    REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
                      REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(d,
                        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '<[^>]*>', ' ', 'g'),
                      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                    '\s+', ' ', 'g')) AS clean
           FROM dirty ORDER BY doc_id""",
      "q62_text_nfc" ->
        """SELECT doc_id,
                  CAST(LENGTH(text || ' cafe' || CHR(769)) AS INT) AS n_chars_raw,
                  CAST(LENGTH(NFC_NORMALIZE(text || ' cafe' || CHR(769))) AS INT) AS n_chars_nfc,
                  NFC_NORMALIZE(text || ' cafe' || CHR(769)) AS clean
           FROM documents ORDER BY doc_id""",
      "q55_tokenize_ids" ->
        s"""WITH toksv AS (SELECT doc_id, $toks AS t FROM documents),
            vocab AS (
              SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS id FROM (
                SELECT token, COUNT(*) AS df FROM (
                  SELECT DISTINCT doc_id, UNNEST(t) AS token FROM toksv)
                GROUP BY token ORDER BY df DESC, token LIMIT 20)),
            flat AS (
              SELECT doc_id, UNNEST(t) AS token,
                     UNNEST(GENERATE_SERIES(1, LEN(t))) - 1 AS pos
              FROM toksv)
            SELECT f.doc_id, CAST(f.pos AS BIGINT) AS pos,
                   CAST(COALESCE(v.id, 0) AS BIGINT) AS token_id
            FROM flat f LEFT JOIN vocab v ON v.token = f.token
            ORDER BY f.doc_id, pos""",
      "q52_text_pii_scrub" ->
        """WITH dirty AS (
             SELECT doc_id,
                    text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com via https://example.com/p/'
                         || CAST(doc_id AS VARCHAR) AS d
             FROM documents)
           SELECT doc_id,
                  CAST(LEN(REGEXP_EXTRACT_ALL(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                  CAST(LEN(REGEXP_EXTRACT_ALL(d, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
                  REGEXP_REPLACE(
                    REGEXP_REPLACE(d, 'https?://[^\s]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS scrubbed
           FROM dirty ORDER BY doc_id""",
      "q51_text_repetition" ->
        s"""WITH toksr AS (SELECT doc_id, $toks AS t FROM documents),
            shr AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toksr, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS i) u
              WHERE LEN(t) >= 3),
            aggr AS (
              SELECT doc_id, COUNT(*)::DOUBLE AS total,
                     COUNT(DISTINCT s)::DOUBLE AS dist
              FROM shr GROUP BY doc_id)
            SELECT d.doc_id,
                   ROUND(COALESCE(1.0 - a.dist / a.total, 0.0), 6) AS repetition
            FROM documents d LEFT JOIN aggr a ON a.doc_id = d.doc_id
            ORDER BY d.doc_id""",
      "q45_token_percentiles" ->
        s"""SELECT lang,
                   ROUND(QUANTILE_CONT(n_tokens, 0.5), 6) AS p50,
                   ROUND(QUANTILE_CONT(n_tokens, 0.9), 6) AS p90,
                   ROUND(QUANTILE_CONT(n_tokens, 0.99), 6) AS p99,
                   MAX(n_tokens) AS max_tokens
            FROM (SELECT lang, CAST($nTokens AS BIGINT) AS n_tokens FROM documents)
            GROUP BY lang ORDER BY lang""",
      // the sketch replayed whole: per-doc hash64 via the shared
      // FNV-1a+fmix64 HUGEINT chain, bottom-64 per lang by unsigned hash
      // (the engine ranks the same rows by %016x hex — identical order),
      // then the integer ceil-rank pick over the sample's value order.
      // q113 (the STREAMING drain of the same sketch) shares it verbatim:
      // the merge law makes the drained state equal the batch sketch.
      "q112_token_percentiles_sketch" -> sketchSql,
      "q113_token_percentiles_sketch_stream" -> sketchSql,
      "q126_kmv_distinct_tokens" -> kmvDistinctSql,
      "q128_kmv_distinct_stream" -> kmvDistinctSql,
      "q127_kmv_jaccard_langs" -> kmvJaccardSql,
      // closed-form twin of the JSON round-trip: every output re-derived
      // from the base columns (the engine's encode→decode chain is the
      // thing under test; suffix len 3 = the planted '"q\' escape token)
      "q146_json_roundtrip" ->
        s"""WITH f5 AS (
              SELECT doc_id, lang, source,
                     LIST_FILTER($toks, x -> x <> '')[1:5] AS ts
              FROM documents)
            SELECT doc_id, lang AS lang_rt, source AS src_path,
                   CAST(LEN(ts) AS BIGINT) AS n_toks,
                   CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(ts, x -> LEN(x))), 0) AS BIGINT) AS sum_n,
                   CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(ts, x -> LEN(x))), 0)
                        + CASE WHEN LEN(ts) >= 1 THEN 3 ELSE 0 END AS BIGINT) AS sum_tok_len,
                   CAST(doc_id % 7 + doc_id % 11 + doc_id % 13 AS BIGINT) AS sum_scores
            FROM f5 ORDER BY doc_id"""
    ) ++ bpeOracle111.map(f => "q111_bpe_tokenize" -> f()) ++
      bpeOracle121.map(f => "q121_bpe_tokenize_distributed" -> f()) ++
      clfOracle118.map(f => "q118_quality_classifier" -> f()) ++
      unigramOracle145.map(f => "q145_unigram_tokenize" -> f())
  }

  /** q97's CTE chain (documents -> per-doc bigram NLL), shared with the
    * q114 bucket oracle so the score formula cannot drift between them.
    */
  /** The DSIR oracle, parameterized by population filter and target
    * predicate (q214 = full corpus / lang; q215 = the increment feed /
    * the feed-derivable id-parity marker). Same gram/hash chain as the
    * q118 classifier; the micro-nat expression mirrors
    * [[graft.operators.Dsir.scoreTable]] op-for-op.
    */
  private def dsirSql(popWhere: String, tgtPred: String): String =
    s"""WITH RECURSIVE
        pop AS (SELECT * FROM documents $popWhere),
        nrm AS (SELECT doc_id, $norm AS t FROM pop),
        grams AS (
          SELECT doc_id, i, SUBSTR(t, i, 4) AS gm
          FROM nrm, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - 3)) AS i) u
          WHERE LEN(t) >= 4),
        tokh AS (SELECT doc_id * 1000000 + i AS tid, doc_id, HEX(ENCODE(gm)) AS hx
                 FROM grams),
        ${HashOracleSql.fnvFmixCtes},
        bkt AS (SELECT t.doc_id, CAST(s.x % 1024 AS INT) AS b
                FROM sig s JOIN tokh t USING (tid)),
        rawc AS (SELECT b, COUNT(*) AS cr FROM bkt GROUP BY b),
        tgtc AS (SELECT b.b, COUNT(*) AS ct
                 FROM bkt b JOIN pop d USING (doc_id)
                 WHERE $tgtPred GROUP BY b.b),
        tots AS (SELECT
            (SELECT COUNT(*) FROM bkt b JOIN pop d USING (doc_id)
             WHERE $tgtPred) AS ctot,
            (SELECT COUNT(*) FROM bkt) AS rtot),
        sc AS (SELECT r.b,
                 CAST(ROUND((LN(COALESCE(t.ct, 0) + 1) - LN(ctot + 1024)
                             - LN(r.cr + 1) + LN(rtot + 1024)) * 1000000.0, 0)
                      AS BIGINT) AS sc
               FROM rawc r LEFT JOIN tgtc t USING (b) CROSS JOIN tots),
        dots AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(sc) AS w_micro
                 FROM bkt JOIN sc USING (b) GROUP BY doc_id),
        allw AS (SELECT d.doc_id, COALESCE(o.n_grams, 0) AS n_grams,
                        CAST(COALESCE(o.w_micro, 0) AS BIGINT) AS w_micro
                 FROM pop d LEFT JOIN dots o USING (doc_id)),
        rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY w_micro DESC, doc_id) AS rn
               FROM allw)
        SELECT doc_id, n_grams, w_micro,
               rn <= (SELECT CAST(CEIL(0.1 * COUNT(*)) AS BIGINT) FROM pop)
                 AS selected
        FROM rk ORDER BY doc_id"""

  private lazy val bigramNllCtes: String =
    s"""toks0 AS (SELECT doc_id, $toks AS t FROM documents),
              tokpos AS (
                SELECT doc_id, i AS pos, t[i] AS token
                FROM toks0, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t))) AS i) u),
              tok AS (SELECT * FROM tokpos WHERE token <> ''),
              bg AS (
                SELECT doc_id,
                       COALESCE(LAG(token) OVER (PARTITION BY doc_id ORDER BY pos), '') AS prev,
                       token AS cur
                FROM tok),
              bcf AS (SELECT prev, cur, COUNT(*) AS bcf FROM bg GROUP BY prev, cur),
              ctx AS (SELECT prev, SUM(bcf) AS ctx FROM bcf GROUP BY prev),
              v AS (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v FROM tok),
              per AS (
                SELECT b.doc_id, COUNT(*) AS n_tokens,
                       ROUND(AVG(LN(ctx.ctx + (SELECT v FROM v)) - LN(bcf.bcf + 1)), 6) AS nll
                FROM bg b JOIN bcf USING (prev, cur) JOIN ctx USING (prev)
                GROUP BY b.doc_id)"""

  /** See the q103 oracle comment in [[oracleSql]]. */
  private lazy val cmsSql: String = {
    import graft.functions.expr.CmsParams
    val d = 4
    val w = 1 << 10
    val bucketSelects = (0 until d).map { i =>
      val prod = HashOracleSql.mulMod64("x", s"${CmsParams.aU(i)}::HUGEINT")
      s"""SELECT token, $i AS i,
                 (($prod) + ${CmsParams.bU(i)}::HUGEINT) % $w AS bucket
          FROM vh"""
    }.mkString("\n UNION ALL\n")
    s"""WITH RECURSIVE
          tok AS (
            SELECT token FROM (SELECT UNNEST($toks) AS token FROM documents)
            WHERE token <> ''),
          tokh AS (
            SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS tid, HEX(ENCODE(token)) AS hx
            FROM (SELECT DISTINCT token FROM tok)),
          ${HashOracleSql.fnvFmixCtes},
          vh AS (SELECT t.token, s.x FROM tokh t JOIN sig s USING (tid)),
          vb AS ($bucketSelects),
          occ AS (SELECT vb.i, vb.bucket, COUNT(*) AS cnt
                  FROM tok JOIN vb USING (token) GROUP BY 1, 2),
          n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
          est AS (SELECT vb.token, MIN(occ.cnt) AS est_cnt
                  FROM vb JOIN occ USING (i, bucket) GROUP BY vb.token)
        SELECT token AS item, est_cnt FROM est, n
        WHERE est_cnt > 0.02 * n.n
        ORDER BY est_cnt DESC, item"""
  }

  /** See the q112 oracle comment in [[oracleSql]]. */
  /** Shared KMV CTEs: distinct (lang, token) pairs, each DISTINCT token
    * hashed once through the public chain, per-lang k smallest distinct
    * hashes (ORDER BY x == the engine's hex-string order). Yields
    * `samp(lang, cnt, x, rn)` with rn <= kmvK and cnt = the lang's full
    * distinct-hash count.
    */
  private lazy val kmvCtes: String =
    s"""lt AS (SELECT DISTINCT lang, g AS token FROM (
                 SELECT tt.lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
                 FROM (SELECT lang, $toks AS t FROM documents) tt,
                      LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS i) u)),
        dt AS (SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS tid FROM (SELECT DISTINCT token FROM lt)),
        tokh AS (SELECT tid, HEX(ENCODE('kmv:' || token)) AS hx FROM dt),
        ${HashOracleSql.fnvFmixCtes},
        lx AS (SELECT DISTINCT l.lang, s.x
               FROM lt l JOIN dt d ON d.token = l.token JOIN sig s ON s.tid = d.tid),
        ranked AS (SELECT lang, x,
                          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x) AS rn,
                          COUNT(*) OVER (PARTITION BY lang) AS cnt
                   FROM lx),
        samp AS (SELECT lang, cnt, x, rn FROM ranked WHERE rn <= $kmvK)"""

  /** q126: the KMV threshold estimator replayed with the same IEEE
    * double operations — one exactly-representable product literal, one
    * division, floor, clamp — so the BIGINT estimate is bit-identical.
    */
  private lazy val kmvDistinctSql: String = {
    val prod = HashOracleSql.dlit((kmvK - 1).toDouble * graft.operators.Kmv.TwoTo64)
    s"""WITH RECURSIVE
        $kmvCtes
        SELECT lang,
               CAST(LEAST(cnt, $kmvK) AS BIGINT) AS sample_n,
               CAST(CASE WHEN cnt < $kmvK THEN cnt
                 ELSE FLOOR(LEAST($prod / (MAX(CASE WHEN rn = $kmvK THEN x END)::DOUBLE + 1.0),
                                  4611686018427387904::DOUBLE)) END AS BIGINT) AS est_distinct
        FROM samp
        GROUP BY lang, cnt
        ORDER BY lang"""
  }

  /** q127: the set-operation rule on the same samples — per lang pair,
    * the k smallest of the union of the two samples, counting members
    * present in both.
    */
  private lazy val kmvJaccardSql: String =
    s"""WITH RECURSIVE
        $kmvCtes,
        langs AS (SELECT DISTINCT lang FROM samp),
        pr AS (SELECT a.lang AS g_a, b.lang AS g_b
               FROM langs a JOIN langs b ON a.lang < b.lang),
        ux AS (SELECT p.g_a, p.g_b, s.x,
                      MAX(CASE WHEN s.lang = p.g_a THEN 1 ELSE 0 END) AS in_a,
                      MAX(CASE WHEN s.lang = p.g_b THEN 1 ELSE 0 END) AS in_b
               FROM pr p JOIN samp s ON s.lang IN (p.g_a, p.g_b)
               GROUP BY p.g_a, p.g_b, s.x),
        ranked2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY x) AS ur
                    FROM ux),
        usmp AS (SELECT * FROM ranked2 WHERE ur <= $kmvK)
        SELECT g_a, g_b,
               CAST(COUNT(*) AS BIGINT) AS sample_union,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
               ROUND(SUM(in_a * in_b)::DOUBLE / COUNT(*), 6) AS jaccard_est
        FROM usmp
        GROUP BY g_a, g_b
        ORDER BY g_a, g_b"""

  private lazy val sketchSql: String = {
    val nTokens = s"CASE WHEN LENGTH($norm) = 0 THEN 0 ELSE LEN($toks) END"
    s"""WITH RECURSIVE
            tokh AS (SELECT doc_id AS tid,
                            HEX(ENCODE('q112:' || CAST(doc_id AS VARCHAR))) AS hx
                     FROM documents),
            ${HashOracleSql.fnvFmixCtes},
            vals AS (SELECT doc_id, lang, CAST($nTokens AS BIGINT) AS v FROM documents),
            scored AS (SELECT d.lang, d.v, s.x
                       FROM vals d JOIN sig s ON s.tid = d.doc_id),
            ranked AS (SELECT lang, v,
                              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x, v) AS rn,
                              COUNT(*) OVER (PARTITION BY lang) AS n
                       FROM scored),
            samp AS (SELECT lang, n, v FROM ranked WHERE rn <= 64),
            ordered AS (SELECT lang, n, v,
                               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS vr,
                               COUNT(*) OVER (PARTITION BY lang) AS kk
                        FROM samp)
            SELECT lang, CAST(n AS BIGINT) AS n, CAST(kk AS BIGINT) AS sample_n,
                   MAX(CASE WHEN vr = (kk*50 + 99)//100 THEN v END) AS p50,
                   MAX(CASE WHEN vr = (kk*90 + 99)//100 THEN v END) AS p90,
                   MAX(CASE WHEN vr = (kk*99 + 99)//100 THEN v END) AS p99
            FROM ordered
            GROUP BY lang, n, kk
            ORDER BY lang"""
  }
}
