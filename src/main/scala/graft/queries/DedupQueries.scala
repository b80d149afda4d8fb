package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.operators.Dedup

/** Deduplication query surface over the `documents` / `embeddings`
  * tables (SURVEY §7.5). Every operator here carries a full DuckDB
  * oracle — including SimHash (q22), whose arithmetic-only kernel DuckDB
  * recomputes bit-exactly (see [[simhashSql]]).
  *
  * q21 (MinHash+LSH) intentionally shares q23's exact-Jaccard oracle:
  * with k=128/b=32/r=4 the candidate-miss probability at j>=0.8 is ~1e-7,
  * so LSH + exact verification must reproduce the exact operator's output.
  * q25 (embedding LSH) likewise shares q24's exact-cosine oracle. The
  * testdata embeddings are near-orthogonal randoms whose only qualifying
  * pairs sit at cos ≈ 0.5 — the hyperplane-LSH worst case — so q25 passes
  * a few-planes/many-tables RECALL configuration (planes=6, tables=24,
  * radius-1 probe: per-pair miss ≈ 3e-5 at cos 0.5) explicitly at the
  * query site, accepting brute-force-like candidate volume; the
  * operator's shipped defaults target realistic cos ≥ 0.95 near-dups,
  * where the same operator prunes ~240× (see [[graft.operators.Ann]]).
  */
object DedupQueries extends QueryFamily {

  private val shingleN = 3
  private val contaminationN = 5 // longer n-grams for the q76 leakage probe
  private[queries] val spanK = 8 // min repeated-span width; ~50 at corpus scale, scaled to 10-99-token testdata docs
  private[queries] val jaccardThreshold = 0.8
  private val cosineThreshold = 0.5 // testdata embeddings are near-orthogonal; demo threshold
  private[queries] val corpusSplit = 250 // doc_id < split = corpus, >= split = increment (q50/q70/q78)
  private val evalMod = 25 // doc_id % 25 == 0 -> the q76 "eval set"

  /** Build the persisted MinHash-LSH index once per SOURCE STATE of
    * documents.parquet ([[Staging]] contract; `meta/_SUCCESS` — written
    * last in [[Dedup.writeMinhashIndex]] — is the completion marker).
    */
  private[queries] def stagedMinhashIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_minhash_index",
      Seq(s"$dir/documents.parquet"),
      s"$corpusSplit:$shingleN:128:32:42", "meta/_SUCCESS") { stage =>
      Dedup.writeMinhashIndex(
        table(s, dir, "documents").filter(col("doc_id") < corpusSplit),
        stage, n = shingleN)
    }

  /** Build the near-dup KEEP-LIST (connected components over the exact
    * n-gram-Jaccard pairs, (member_id, keep_id) rows) once per SOURCE
    * STATE of documents.parquet — the deployment shape: the pair pipeline
    * is the most expensive operator in the engine, and a corpus state has
    * ONE keep-list that every consumer (the dedup keep-list query q43, the
    * leakage-safe split q74) reads, instead of each consumer recomputing
    * the pair set from the text. The parquet `_SUCCESS` written at the end
    * of the write is the completion marker.
    */
  private[graft] def stagedKeepListDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_keeplist",
      Seq(s"$dir/documents.parquet"),
      s"$shingleN:$jaccardThreshold", "_SUCCESS") { stage =>
      graft.operators.CacheScope.scoped {
        Dedup.nearDupGroups(
            Dedup.ngramJaccardPairs(table(s, dir, "documents"),
              n = shingleN, threshold = jaccardThreshold))
          .write.mode("overwrite").parquet(stage)
      }
    }

  /** The increment (doc_id >= corpusSplit) staged as a THREE-file parquet
    * feed directory, so q92's ingest stream drains >= 3 micro-batches
    * under maxFilesPerTrigger=1 (the q83 fact-feed pattern) — cross-batch
    * pair formation is exercised on every correctness run.
    */
  private[queries] def stagedDocsFeedDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_docs_feed",
      Seq(s"$dir/documents.parquet"), s"inc$corpusSplit:files=3", "_SUCCESS") { stage =>
      table(s, dir, "documents").filter(col("doc_id") >= corpusSplit)
        .select("doc_id", "text")
        .repartition(3)
        .write.mode("overwrite").parquet(stage)
    }

  private[queries] val docsFeedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  /** The embedding increment (vec_id >= corpusSplit) staged as a
    * THREE-file parquet feed, so q95's ingest stream drains >= 3
    * micro-batches under maxFilesPerTrigger=1 — same pattern as the q92
    * document feed.
    */
  private def stagedEmbFeedDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_emb_feed",
      Seq(s"$dir/embeddings.parquet"), s"inc$corpusSplit:files=3", "_SUCCESS") { stage =>
      table(s, dir, "embeddings").filter(col("vec_id") >= corpusSplit)
        .select("vec_id", "embedding")
        .repartition(3)
        .write.mode("overwrite").parquet(stage)
    }

  private val embFeedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))

  /** Copy a staged (immutable) index directory into a per-run scratch
    * dir the ingest is allowed to mutate.
    */
  private[queries] def copiedIndexDir(s: SparkSession, stagedDir: String, scratch: String): String = {
    val conf = s.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(stagedDir)
    val dst = new org.apache.hadoop.fs.Path(scratch)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    dst.toString
  }

  /** The CORPUS-side (doc_id < corpusSplit) keep-list, merged by the q91
    * incremental maintenance — same split convention as the other
    * incremental operators.
    */
  private[queries] def stagedCorpusKeepListDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_keeplist",
      Seq(s"$dir/documents.parquet"),
      s"corpus$corpusSplit:$shingleN:$jaccardThreshold", "_SUCCESS") { stage =>
      graft.operators.CacheScope.scoped {
        Dedup.nearDupGroups(
            Dedup.ngramJaccardPairs(
              table(s, dir, "documents").filter(col("doc_id") < corpusSplit),
              n = shingleN, threshold = jaccardThreshold))
          .write.mode("overwrite").parquet(stage)
      }
    }

  /** Build the window-hash span index over the FULL documents table once
    * per SOURCE STATE ([[Staging]] contract; `meta/_SUCCESS` — written
    * last in [[graft.operators.Spans.writeSpanIndex]] — is the completion
    * marker). Carries `source` so the per-source boilerplate audit (q85)
    * shares the same stage as the global audit (q82).
    */
  private[queries] def stagedSpanIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_span_index",
      Seq(s"$dir/documents.parquet"),
      s"full:$spanK:source:v2", "meta/_SUCCESS") { stage =>
      graft.operators.Spans.writeSpanIndex(
        table(s, dir, "documents"), stage, k = spanK, carry = Seq("source"))
    }

  /** The CORPUS-side (doc_id < corpusSplit) span index, probed by the
    * q84 increment — same split convention as the other incremental
    * operators (q50/q70/q78).
    */
  private[queries] def stagedSpanCorpusIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_span_index",
      Seq(s"$dir/documents.parquet"),
      s"corpus$corpusSplit:$spanK:v2", "meta/_SUCCESS") { stage =>
      graft.operators.Spans.writeSpanIndex(
        table(s, dir, "documents").filter(col("doc_id") < corpusSplit),
        stage, k = spanK)
    }

  /** Build the persisted semantic (k-means cell) index over the FULL
    * embeddings table once per SOURCE STATE — q87's quantizer trains
    * here, not per invocation ([[Staging]] contract; `meta/_SUCCESS`
    * — written last in [[Dedup.writeSemanticIndex]] — is the marker).
    */
  private def stagedSemanticIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_sem_index",
      Seq(s"$dir/embeddings.parquet"),
      s"full:8:3:42:drift", "meta/_SUCCESS") { stage =>
      Dedup.writeSemanticIndex(table(s, dir, "embeddings"), stage,
        nlist = 8, nassign = 3)
    }

  /** The CORPUS-side (vec_id < corpusSplit) semantic index, probed by
    * the q90 increment — same split convention as q50/q70/q78/q84.
    */
  private def stagedSemanticCorpusIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_sem_index",
      Seq(s"$dir/embeddings.parquet"),
      s"corpus$corpusSplit:8:3:42:drift", "meta/_SUCCESS") { stage =>
      Dedup.writeSemanticIndex(
        table(s, dir, "embeddings").filter(col("vec_id") < corpusSplit),
        stage, nlist = 8, nassign = 3)
    }

  /** Build the persisted hyperplane-LSH embedding index once per SOURCE
    * STATE of embeddings.parquet (q25's recall-first worst-case-angle
    * parameters — see the object doc).
    */
  private def stagedEmbeddingIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_emb_index",
      Seq(s"$dir/embeddings.parquet"),
      s"$corpusSplit:6:24:64:42", "meta/_SUCCESS") { stage =>
      Dedup.writeEmbeddingIndex(
        table(s, dir, "embeddings").filter(col("vec_id") < corpusSplit),
        stage, planes = 6, tables = 24)
    }

  /** Build the CORPUS-side IVF+PQ index once per SOURCE STATE — the
    * search target q102's streaming ANN ingest appends into (via a
    * per-run copy).
    */
  private def stagedIvfPqCorpusIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_ivfpq_index",
      Seq(s"$dir/embeddings.parquet"),
      s"corpus$corpusSplit:64:8:16:16:42", "meta/_SUCCESS") { stage =>
      graft.operators.Pq.writeIvfPqIndex(
        table(s, dir, "embeddings").filter(col("vec_id") < corpusSplit),
        stage, dim = 64, m = 8, ksub = 16, nlist = 16, iters = 3, seed = 42L)
    }

  override def stages: Map[String, (SparkSession, String) => String] = Map(
    "minhash_index" -> (stagedMinhashIndexDir _),
    "ivfpq_index_corpus" -> (stagedIvfPqCorpusIndexDir _),
    "keeplist" -> (stagedKeepListDir _),
    "keeplist_corpus" -> (stagedCorpusKeepListDir _),
    "docs_feed" -> (stagedDocsFeedDir _),
    "emb_feed" -> (stagedEmbFeedDir _),
    "span_index_full" -> (stagedSpanIndexDir _),
    "span_index_corpus" -> (stagedSpanCorpusIndexDir _),
    "emb_index" -> (stagedEmbeddingIndexDir _),
    "sem_index_full" -> (stagedSemanticIndexDir _),
    "sem_index_corpus" -> (stagedSemanticCorpusIndexDir _),
    "par_first" -> (stagedParFirstDir _))

  /** q140/q142 paragraph-structure injection (the corpus text is
    * single-line): per-source shared header + own text + global footer.
    */
  private val parDirty = concat(
    lit("Shared header for "), col("source"), lit("\n"),
    col("text"), lit("\n"),
    lit("shared global footer"))

  /** The CORPUS half's paragraph first-occurrence table, staged per
    * source state — q142's input ([[graft.operators.ParagraphDedup
    * .firstOccurrences]]; one row per distinct normalized paragraph).
    */
  private[queries] def stagedParFirstDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_par_first",
      Seq(s"$dir/documents.parquet"), s"split=$corpusSplit:v1", "_SUCCESS") { stage =>
      graft.operators.ParagraphDedup.firstOccurrences(
        graft.operators.ParagraphDedup.paragraphs(
          table(s, dir, "documents")
            .filter(col("doc_id") < corpusSplit)
            .select(col("doc_id"), parDirty.as("dirty")),
          "doc_id", "dirty"))
        .write.mode("overwrite").parquet(stage)
    }

  override def traits: Map[String, Set[QueryTrait]] = QueryTrait.of(
    QueryTrait.Heavy -> Seq("q20_dedup_exact", "q21_dedup_minhash_lsh", "q22_dedup_simhash",
      "q23_dedup_ngram_jaccard", "q24_dedup_embedding", "q25_dedup_embedding_lsh",
      "q43_dedup_groups", "q70_dedup_incremental_minhash", "q74_train_split",
      "q76_eval_contamination", "q78_dedup_incremental_embedding", "q82_repeated_spans",
      "q84_repeated_spans_incremental", "q85_boilerplate_by_source", "q86_strip_repeated_spans",
      "q90_dedup_semantic_incremental", "q91_dedup_groups_incremental", "q115_dedup_groups_chain",
      "q120_link_pagerank", "q122_dedup_containment", "q137_er_name_pairs", "q138_link_triangles",
      "q139_link_kcore", "q148_decontaminate_fuzzy", "q203_link_bipartite"),
    QueryTrait.Stream -> Seq("q92_dedup_ingest_stream", "q95_dedup_ingest_stream_embedding",
      "q100_dedup_ingest_stream_semantic", "q102_ann_ingest_stream_ivfpq"),
    QueryTrait.Paced -> Seq("q92_dedup_ingest_stream", "q95_dedup_ingest_stream_embedding",
      "q100_dedup_ingest_stream_semantic", "q102_ann_ingest_stream_ivfpq",
      "q115_dedup_groups_chain"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(table(s, dir, "documents"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")),

    // CCNet paragraph dedup ([[graft.operators.ParagraphDedup]]):
    // corpus-wide keep-first removal of duplicated normalized lines —
    // the delimiter-structured sibling of the token-window span family
    // (q82-q86). The corpus text is single-line, so the gate wraps each
    // doc in deterministic paragraph structure (the q52/q63 injection
    // pattern): a per-source shared header (kept only in that source's
    // globally first doc), the doc's own text (drops exactly where q20
    // found exact dups), and one global footer (kept once corpus-wide)
    "q140_paragraph_dedup" -> ((s, dir) =>
      graft.operators.ParagraphDedup.stripDuplicatedParagraphs(
          table(s, dir, "documents").select(col("doc_id"), parDirty.as("dirty")),
          "doc_id", "dirty")
        .orderBy("doc_id")),

    // incremental maintenance for q140 (the q50/q70/q91 discipline
    // applied to the paragraph family): the corpus's paragraph
    // first-occurrence table STAGES per source state; the increment
    // strips against that state — one row per distinct corpus
    // paragraph, never a corpus re-scan — and must land on the exact
    // from-scratch q140 answer restricted to increment docs (the
    // oracle IS that restriction)
    "q142_paragraph_dedup_incremental" -> ((s, dir) => {
      val inc = table(s, dir, "documents")
        .filter(col("doc_id") >= corpusSplit)
        .select(col("doc_id"), parDirty.as("dirty"))
      val corpusFirst = s.read.parquet(stagedParFirstDir(s, dir))
      graft.operators.ParagraphDedup.stripIncrement(
          inc, corpusFirst, "doc_id", "dirty")
        .orderBy("doc_id")
    }),

    "q21_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(table(s, dir, "documents"),
          n = shingleN, threshold = jaccardThreshold)
        .orderBy("id_a", "id_b")),

    "q22_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // fuzzy eval-train DECONTAMINATION ([[Dedup.minhashLshCrossPairs]]):
    // the eval set is synthesized as PLANTED leaks — every doc_id ≡ 7
    // (mod 10) re-enters at id+1e6 with its first token dropped (one
    // missing leading shingle, J = (S−1)/S ≥ 0.8 on any doc with ≥ 5
    // distinct shingles) — so the gate checks the cross-set band join
    // finds every leak and the exact verify scores it; train-train and
    // eval-eval pairs are structurally impossible in the output
    "q148_decontaminate_fuzzy" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val evals = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ",
            slice(graft.functions.TextFunctions.tokens(col("text")), 2, Int.MaxValue))
            .as("text"))
      Dedup.minhashLshCrossPairs(evals, docs,
          n = shingleN, threshold = jaccardThreshold)
        .select(col("id_a").as("eval_id"), col("id_b").as("train_id"), col("jaccard"))
        .orderBy("eval_id", "train_id")
    }),

    "q23_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"),
          n = shingleN, threshold = jaccardThreshold)
        .orderBy("id_a", "id_b")),

    // DIRECTED containment pairs ([[graft.operators.Dedup
    // .containmentPairs]]): C(a,b) = |a∩b|/|a| — the excerpt/quote/
    // syndication detector Jaccard structurally misses (a fragment
    // inside a much larger doc has J = |a|/|b| ≈ 0 but C ≈ 1). Same
    // rarity-prefix candidate generation, asymmetric bound (prefix on
    // the contained side only, full list on the containing side)
    "q122_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"),
          n = shingleN, threshold = jaccardThreshold)
        .orderBy("id_a", "id_b")),

    // CHARACTER-edit-distance entity resolution ([[graft.operators.Er
    // .editDistancePairs]]): FastSS deletion-signature blocking + exact
    // levenshtein verify over customer names — the fuzzy-match family
    // the shingle/minhash operators don't cover (one typo in a short
    // identifier is one unit of distance regardless of how many
    // shingles it perturbs). The TPC-H name shape gives the gate real
    // structure: two names are distance 1 iff their 9-digit suffixes
    // differ in exactly one position.
    "q137_er_name_pairs" -> ((s, dir) =>
      graft.operators.Er.editDistancePairs(
          table(s, dir, "customer"), idCol = "c_custkey", strCol = "c_name")
        .orderBy("id_a", "id_b")),

    // Fellegi–Sunter record-linkage scoring (1969) on top of q137's
    // FastSS blocking: a deterministic DIRTY-DUPLICATE table (even keys
    // get a copy; k%3 a letter typo in the digit region, k%7 a nation
    // shift, k%5 a balance-band shift) is matched against the base —
    // candidates = names within edit distance 1 (zero false negatives),
    // then INTEGER log-odds field weights (name exact/fuzzy, nation,
    // band) sum to a score classified match / possible / non_match.
    // All-integer scoring ⇒ bit-exact verdicts
    "q181_er_match_scoring" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val k = col("c_custkey")
      val band = floor(col("c_acctbal") / 1000).cast("long")
      val left = c.select(k.as("lid"), col("c_name").as("lname"),
        col("c_nationkey").as("lnation"), band.as("lband"))
      val typoName = concat(
        col("c_name").substr(lit(1), (lit(9) + k % 9).cast("int")),
        expr("char(cast(65 + c_custkey % 26 as int))"),
        col("c_name").substr((lit(11) + k % 9).cast("int"), lit(64)))
      val right = c.filter(k % 2 === 0).select(
        (k + 1000000L).as("rid"),
        when(k % 3 === 0, typoName).otherwise(col("c_name")).as("rname"),
        ((col("c_nationkey") + when(k % 7 === 0, 1L).otherwise(0L)) % 25).as("rnation"),
        (band + when(k % 5 === 0, 1L).otherwise(0L)).as("rband"))
      val u = left.select(col("lid").as("id"), col("lname").as("nm"))
        .unionByName(right.select(col("rid").as("id"), col("rname").as("nm")))
      val cand = graft.operators.Er.editDistancePairs(u, "id", "nm")
        .filter(col("id_a") < 1000000L && col("id_b") >= 1000000L)
      val score =
        when(col("lname") === col("rname"), 40L).otherwise(30L) +
          when(col("lnation") === col("rnation"), 12L).otherwise(-15L) +
          when(col("lband") === col("rband"), 8L).otherwise(-5L)
      cand.join(left, col("id_a") === col("lid"))
        .join(right, col("id_b") === col("rid"))
        .select(col("lid"), col("rid"), score.as("score"),
          when(score >= 45, "match").when(score >= 20, "possible")
            .otherwise("non_match").as("verdict"))
        .orderBy("lid", "rid")
    }),

    "q24_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDupExact(table(s, dir, "embeddings"),
          threshold = cosineThreshold)
        .orderBy("id_a", "id_b")),

    "q25_dedup_embedding_lsh" -> ((s, dir) =>
      // worst-case-angle demo config (see object doc): recall over
      // selectivity, because the data's qualifying pairs sit at cos ≈ 0.5
      Dedup.embeddingNearDupLsh(table(s, dir, "embeddings"),
          threshold = cosineThreshold, planes = 6, tables = 24, probeRadius = 1)
        .orderBy("id_a", "id_b")),

    // clustered (SemDeDup-shaped) scale path, verified against the same
    // exact twin as q24/q25. The testdata's qualifying pair is
    // CROSS-label (cos 0.51 between two near-orthogonal clusters), i.e.
    // it straddles a cell boundary — the nassign multi-assignment is
    // what catches it; single assignment would not (spec pins both).
    // Reads the staged index: the quantizer trains once per corpus state
    "q87_dedup_semantic" -> ((s, dir) =>
      Dedup.semanticNearDupPairsFromIndex(s, stagedSemanticIndexDir(s, dir),
          threshold = cosineThreshold)
        .orderBy("id_a", "id_b")),

    // incremental semantic near-dup: the vec_id >= 250 batch assigns to
    // the STORED corpus quantizer's cells and scores only against
    // touched cells — the semantic member of the incremental family
    "q90_dedup_semantic_incremental" -> ((s, dir) =>
      Dedup.incrementalSemanticNearDupPairs(s, stagedSemanticCorpusIndexDir(s, dir),
          table(s, dir, "embeddings").filter(col("vec_id") >= corpusSplit),
          threshold = cosineThreshold)
        .orderBy("id_a", "id_b")),

    // quantizer-drift audit: each increment vector's distance to its
    // nearest STORED centroid, relative to the meta-recorded training
    // mean — the observable form of the "codebook drift is the rebuild
    // trigger" contract on [[Dedup.appendToSemanticIndex]]. The oracle is
    // generated from the same staged quantizer state (see [[q96Sql]])
    "q96_semantic_drift" -> ((s, dir) => {
      val idx = stagedSemanticCorpusIndexDir(s, dir)
      q96Oracle = Some(capturedOracle(q96Sql(s, idx)))
      Dedup.semanticDrift(s, idx,
          table(s, dir, "embeddings").filter(col("vec_id") >= corpusSplit))
        .orderBy("vec_id")
    }),

    // incremental ingest: documents with doc_id >= 250 arrive as the new
    // batch and dedupe against themselves plus the doc_id < 250 corpus's
    // fingerprint set — the output is what the ingest would append
    "q50_dedup_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.dedupeAgainst(
          docs.filter(col("doc_id") >= 250),
          Dedup.fingerprints(docs.filter(col("doc_id") < 250)))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // Bloom membership gate in front of q50's exact verify
    // ([[graft.operators.Bloom]]): the corpus folds into an 8 KB packed
    // bit set riding the plan as a compiled-expression reference, each
    // increment row answers "definitely new" MAP-SIDE (no join, no
    // shuffle), and only maybe-members reach the exact fingerprint
    // semi-join. Output keeps both verdicts so false positives are
    // visible. Bit-exact oracle — the gate is the same integer
    // multiply-shift family as q103
    "q109_bloom_membership" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val fpCol = graft.functions.TextFunctions.contentFingerprint(col("text"))
      val corpus = docs.filter(col("doc_id") < corpusSplit)
      val bits = graft.operators.Bloom.build(corpus, fpCol)
      val gated = graft.operators.Bloom.gate(
        docs.filter(col("doc_id") >= corpusSplit)
          .select(col("doc_id"), fpCol.as("fingerprint")),
        col("fingerprint"), bits)
      val verified = gated.filter(col("bloom_maybe"))
        .join(Dedup.fingerprints(corpus), Seq("fingerprint"), "left_semi")
        .select(col("doc_id"), lit(true).as("is_dup"))
      gated.join(verified, Seq("doc_id"), "left")
        .select(col("doc_id"), col("bloom_maybe"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy("doc_id")
    }),

    // incremental NEAR-dup: the doc_id >= 250 batch probes the persisted
    // corpus index — its own shingling is the only kernel work; the
    // corpus contributes band buckets + hashed key sets, never text
    "q70_dedup_incremental_minhash" -> ((s, dir) =>
      Dedup.incrementalNearDupPairs(s, stagedMinhashIndexDir(s, dir),
          table(s, dir, "documents").filter(col("doc_id") >= corpusSplit),
          threshold = jaccardThreshold)
        .orderBy("id_a", "id_b")),

    // leakage-safe train/valid/test: split by the near-dup GROUP
    // representative's hash, so near-duplicate clusters never straddle a
    // split boundary (doc-id-hash splits leak eval data via near-dups).
    // Reads the staged keep-list — one broadcast-sized join, no pair
    // recomputation (the pair pipeline runs once per corpus state)
    "q74_train_split" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val groups = s.read.parquet(stagedKeepListDir(s, dir))
      Dedup.leakageSafeSplit(docs, groups).orderBy("doc_id")
    }),

    // eval-contamination audit: every doc_id % 25 == 0 document plays the
    // eval set; the rest is the training corpus. Per eval doc: what
    // fraction of its distinct 5-grams appears anywhere in the corpus?
    "q76_eval_contamination" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.evalContamination(
          docs.filter(col("doc_id") % evalMod =!= 0),
          docs.filter(col("doc_id") % evalMod === 0),
          n = contaminationN)
        .orderBy("eval_id")
    }),

    // incremental embedding near-dup: the vec_id >= 250 batch probes the
    // persisted hyperplane index — the corpus contributes stored buckets
    // and vectors, its signatures never recompute
    "q78_dedup_incremental_embedding" -> ((s, dir) =>
      Dedup.incrementalEmbeddingNearDupPairs(s, stagedEmbeddingIndexDir(s, dir),
          table(s, dir, "embeddings").filter(col("vec_id") >= corpusSplit),
          threshold = cosineThreshold)
        .orderBy("id_a", "id_b")),

    // exact repeated-substring dedup (Lee et al. ACL'22): every span of
    // >= spanK tokens occurring in >= 2 distinct documents, merged into
    // maximal spans per doc — the substring-granularity complement of the
    // document-pair dedup family (boilerplate/license/quote removal).
    // Reads the staged window-hash index: the kernel pass and the df
    // aggregate run once per corpus state; the audit is a scan + filter
    "q82_repeated_spans" -> ((s, dir) =>
      graft.operators.Spans.repeatedSpanCoverageFromIndex(
          s, stagedSpanIndexDir(s, dir))
        .orderBy("doc_id")),

    // incremental repeated-span audit: the doc_id >= 250 batch computes
    // only its OWN window hashes and probes the stored corpus df — a
    // window is repeated when corpus-df + increment-df >= 2, i.e. the
    // full-corpus audit restricted to the increment's rows (completing
    // the incremental family: q50 exact, q70 minhash, q78 embedding)
    "q84_repeated_spans_incremental" -> ((s, dir) =>
      graft.operators.Spans.incrementalSpanCoverage(
          s, stagedSpanCorpusIndexDir(s, dir),
          table(s, dir, "documents").filter(col("doc_id") >= corpusSplit))
        .orderBy("doc_id")),

    // the TRANSFORM half of the span family: remove repeated spans,
    // keeping the smallest-id document's copy per window (Lee et al.'s
    // keep-one-occurrence rule); reads the same staged index — the
    // owner (min_id) is precomputed in its df table
    "q86_strip_repeated_spans" -> ((s, dir) =>
      graft.operators.Spans.stripRepeatedSpans(
          s, stagedSpanIndexDir(s, dir), table(s, dir, "documents"))
        .orderBy("doc_id")),

    // cross-set span EXCISION ([[graft.operators.Spans.stripMatching]]):
    // decontamination by REMOVAL — every >= spanK-token window of the
    // q76 eval set (doc_id % 25 == 0) is cut out of every training
    // document, no ownership rule (eval text has no legitimate keeper
    // in a training corpus); the rejection-shaped q76/q148 siblings
    // flag or drop whole docs, this keeps the clean remainder. The
    // corpus's natural cross-set overlap is thin (one doc at sf0.01),
    // so contamination is PLANTED (the q148 discipline): every train
    // doc with doc_id % 10 == 3 appends a 12-token QUOTE from a
    // deterministic eval doc (id = 25·(doc_id % 20)) — a contiguous
    // eval slice, so its >= spanK windows are guaranteed excised, and
    // the clean prefix must survive. Eval contributes its DISTINCT
    // window hashes (benchmark-bounded, broadcast); train pays one
    // kernel pass + the id-keyed merge
    "q217_decontaminate_excise" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val evalD = docs.filter(col("doc_id") % evalMod === 0)
      val quotes = evalD.select(
        (col("doc_id") / evalMod).cast("long").as("qk"),
        concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 12))
          .as("quote"))
      val train = docs.filter(col("doc_id") % evalMod =!= 0)
        .withColumn("qk", pmod(col("doc_id"), lit(20L)))
        .join(broadcast(quotes), Seq("qk"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3,
            concat_ws(" ", col("text"), col("quote")))
            .otherwise(col("text")).as("text"))
      graft.operators.Spans.stripMatching(s, train, evalD, k = spanK)
        .orderBy("doc_id")
    }),

    // within-source boilerplate audit: a window counts as repeated only
    // when >= 2 docs OF THE SAME SOURCE contain it (site chrome, license
    // headers, forum signatures are source-specific); reuses q82's staged
    // kernel output — the per-source df is the only per-audit aggregate
    "q85_boilerplate_by_source" -> ((s, dir) =>
      graft.operators.Spans.groupedSpanCoverageFromIndex(
          s, stagedSpanIndexDir(s, dir), groupCol = "source")
        .orderBy("doc_id")),

    // incremental keep-list maintenance: merge the STAGED corpus
    // keep-list with the increment's minhash-probe pairs (q70's
    // operator) and complete singletons over all docs — must equal the
    // from-scratch full-corpus closure (q43's oracle verifies exactly
    // that), with the corpus contributing only its keep-list rows and
    // its minhash index, never text or corpus-vs-corpus pair work
    // streaming ingest dedup: the increment arrives as 3 micro-batches;
    // each probes the (per-run copy of the) corpus MinHash index and
    // then appends itself, so cross-batch near-dups are caught — the
    // drained output must equal the single-shot q70 answer (same
    // oracle), proving batch boundaries are invisible. compactEvery=2
    // runs the scheduled segment compaction mid-stream, so the
    // correctness gate also proves probes are compaction-transparent
    "q92_dedup_ingest_stream" -> ((s, dir) =>
      graft.streaming.MinhashIngestStream.ingest(
          s, stagedDocsFeedDir(s, dir), docsFeedSchema,
          copiedIndexDir(s, stagedMinhashIndexDir(s, dir),
            Scratch.freshDir(s, "q92idx", dir)),
          Scratch.freshDir(s, "q92out", dir),
          Scratch.freshDir(s, "q92ckpt", dir),
          threshold = jaccardThreshold, maxFilesPerTrigger = Some(1),
          compactEvery = 2)
        .orderBy("id_a", "id_b")),

    // streaming EMBEDDING ingest dedup: the q78 probe + segment-committed
    // index append as one running operator ([[graft.streaming
    // .EmbeddingIngestStream]]); drained output must equal the
    // single-shot q78 answer (same exact-restricted oracle), with
    // mid-stream segment compaction proven probe-transparent
    "q95_dedup_ingest_stream_embedding" -> ((s, dir) =>
      graft.streaming.EmbeddingIngestStream.ingest(
          s, stagedEmbFeedDir(s, dir), embFeedSchema,
          copiedIndexDir(s, stagedEmbeddingIndexDir(s, dir),
            Scratch.freshDir(s, "q95idx", dir)),
          Scratch.freshDir(s, "q95out", dir),
          Scratch.freshDir(s, "q95ckpt", dir),
          threshold = cosineThreshold, maxFilesPerTrigger = Some(1),
          compactEvery = 2)
        .orderBy("id_a", "id_b")),

    // streaming SEMANTIC ingest dedup: the q90 cell-probe +
    // segment-committed index append as one running operator
    // ([[graft.streaming.SemanticIngestStream]]) — with this, all three
    // persisted dedup indexes have the same continuously-running ingest
    // shape. Drained output must equal the single-shot q90 answer (same
    // exact-restricted oracle); compactEvery=2 proves probes are
    // compaction-transparent mid-stream
    "q100_dedup_ingest_stream_semantic" -> ((s, dir) =>
      graft.streaming.SemanticIngestStream.ingest(
          s, stagedEmbFeedDir(s, dir), embFeedSchema,
          copiedIndexDir(s, stagedSemanticCorpusIndexDir(s, dir),
            Scratch.freshDir(s, "q100idx", dir)),
          Scratch.freshDir(s, "q100out", dir),
          Scratch.freshDir(s, "q100ckpt", dir),
          threshold = cosineThreshold, maxFilesPerTrigger = Some(1),
          compactEvery = 2)
        .orderBy("id_a", "id_b")),

    // streaming ANN ingest over the persisted IVF+PQ index
    // ([[graft.streaming.AnnIngestStream]]): each embedding batch is
    // searched against everything committed before it (top-k, probed-cell
    // pruning, own ids excluded for replay idempotence), then appended
    // with the STORED quantizers as one segment commit — all four
    // persisted indexes now run as continuously-ingesting services.
    // GENERATED oracle (the q94 pattern, extended per micro-batch):
    // after the drain, the stream's own file-source log yields the
    // (vec_id → batch) assignment, and DuckDB replays each batch's
    // search against corpus + earlier batches from the staged quantizer
    // literals ([[AnnQueries.ivfpqIngestSql]]). AnnIngestStreamSpec
    // additionally pins per-batch == single-shot search, replay,
    // no-future-leakage, and compaction transparency
    "q102_ann_ingest_stream_ivfpq" -> ((s, dir) => {
      val ckpt = Scratch.freshDir(s, "q102ckpt", dir)
      val res = graft.streaming.AnnIngestStream.ingest(
          s, stagedEmbFeedDir(s, dir), embFeedSchema,
          copiedIndexDir(s, stagedIvfPqCorpusIndexDir(s, dir),
            Scratch.freshDir(s, "q102idx", dir)),
          Scratch.freshDir(s, "q102out", dir), ckpt,
          k = 5, nprobe = 4, maxFilesPerTrigger = Some(1),
          compactEvery = 2)
        .orderBy("query_id", "rank")
      q102Oracle = Some(capturedOracle(AnnQueries.ivfpqIngestSql(s,
        stagedIvfPqCorpusIndexDir(s, dir), batchMembership(s, ckpt),
        corpusSplit.toLong, kk = 5, np = 4)))
      res
    }),

    "q91_dedup_groups_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val merged = Dedup.incrementalKeepList(
        s.read.parquet(stagedCorpusKeepListDir(s, dir)),
        Dedup.incrementalNearDupPairs(s, stagedMinhashIndexDir(s, dir),
          docs.filter(col("doc_id") >= corpusSplit), threshold = jaccardThreshold))
      docs.select(col("doc_id"))
        .join(merged, docs("doc_id") === merged("member_id"), "left")
        .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
        .orderBy("doc_id")
    }),

    // pairs -> keep-list: connected components over the exact near-dup
    // pairs, every document mapped to its cluster representative
    // (singletons keep themselves). The closure is computed once per
    // corpus state ([[stagedKeepListDir]]); this query is the
    // read-and-complete view of it
    "q43_dedup_groups" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"))
      val groups = s.read.parquet(stagedKeepListDir(s, dir))
      docs.join(groups, docs("doc_id") === groups("member_id"), "left")
        .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
        .orderBy("doc_id")
    }),

    // canonical-KEEPER selection over the q43 clusters: the pipeline
    // step ABOVE the keep-list — instead of keep-first (min id), each
    // cluster's keeper is its best member by an explicit quality rule
    // (n_chars desc, doc_id asc), and every member maps to it. One
    // cluster-keyed window for the arg-max + one cluster-keyed join
    // back; cluster count scales with docs, so the keeper table is
    // NOT broadcast
    "q197_dedup_canonical" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val groups = s.read.parquet(stagedKeepListDir(s, dir))
      val labeled = docs.join(groups, docs("doc_id") === groups("member_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("keep_id"), col("doc_id")).as("cluster"))
      val w = Window.partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id"))
      val canon = labeled.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("canon_id"),
          col("n_chars").as("canon_n_chars"))
      labeled.join(canon, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("canon_id"), col("canon_n_chars"))
        .orderBy("doc_id")
    }),

    // corpus SCORECARD (q200): the one-frame health report a curation
    // run publishes — size, token mass, language/source spread, and the
    // dedup closure's cluster structure, every metric an exact integer;
    // each source aggregates once, results union as (metric, value)
    "q200_corpus_scorecard" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCountWs(col("text"))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"))
      val groups = s.read.parquet(stagedKeepListDir(s, dir))
      val labeled = docs.select(col("doc_id"))
        .join(groups, col("doc_id") === col("member_id"), "left")
        .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
      val dd = labeled.agg(
        count_distinct(col("keep_id")).as("n_clusters"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dup_members"))
      def rows(df: org.apache.spark.sql.DataFrame, ms: Seq[String]) =
        ms.map(m => df.select(lit(m).as("metric"), col(m).cast("long").as("value")))
          .reduce(_ unionByName _)
      rows(base, Seq("n_docs", "n_tokens", "n_chars", "n_langs", "n_sources"))
        .unionByName(rows(dd, Seq("n_clusters", "n_dup_members")))
        .orderBy("metric")
    }),

    // BIPARTITENESS test — the EIGHTH graph primitive: an edge whose
    // endpoints share depth PARITY (hop depth from the component's min
    // vertex) certifies an odd cycle. r12 composed components + seeded
    // BFS serially — two diameter-bounded round floors whose cost the
    // r13 profile showed is ENTIRELY per-round job overhead at gate
    // scale (173 jobs, none > 1.2 s) — so r13 fuses them into ONE
    // propagation ([[graft.operators.Sssp.minLabelDepth]]): the min
    // label spreads exactly like a BFS from its holder, so depth rides
    // the same messages free and the round count halves (same outputs,
    // same oracle). The gate graph plants disjoint 12-blocks: every
    // block a C12 cycle (even ⇒ bipartite), even-indexed blocks add
    // one chord forming a triangle (⇒ not bipartite) — both verdicts
    // occur
    "q203_link_bipartite" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val d = col("doc_id")
      val nxt = d - (d % 12) + (d % 12 + 1) % 12
      val chord = when(d % 12 === 0 && expr("(doc_id div 12) % 2") === 0, d + 2)
      val edges = ids.select(d.as("src"), explode(array(nxt, chord)).as("dst"))
        .filter(col("dst").isNotNull && col("src") =!= col("dst"))
        .join(ids.select(d.as("dst")), Seq("dst"), "left_semi")
      val ld = graft.operators.Sssp.minLabelDepth(edges)
      val und = edges.select("src", "dst")
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().filter(col("src") < col("dst"))
      val conflicts = und
        .join(ld.select(col("id").as("src"), col("depth").as("ds"),
          col("label").as("comp")), Seq("src"))
        .join(ld.select(col("id").as("dst"), col("depth").as("dd")), Seq("dst"))
        .filter((col("ds") + col("dd")) % 2 === 0)
        .groupBy("comp").agg(count(lit(1)).as("n_conflicts"))
      ld.groupBy(col("label").as("comp")).agg(count(lit(1)).as("n_vertices"))
        .join(conflicts, Seq("comp"), "left")
        .select(col("comp"), col("n_vertices"),
          coalesce(col("n_conflicts"), lit(0L)).as("n_conflicts"),
          (coalesce(col("n_conflicts"), lit(0L)) === 0L).as("bipartite"))
        .orderBy("comp")
    }),

    // the large-star/small-star contraction ITSELF under the gate: a
    // planted 50-long chain per 50-id block (diameter 49) with
    // maxIters=3 forces min-label propagation to hand off to the star
    // fallback — real near-dup components are near-cliques that converge
    // in 2 rounds, so without a planted chain the gate would never
    // execute the O(log d) path it relies on for adversarial chains.
    // Every id collapses to its block minimum: a closed-form oracle.
    "q115_dedup_groups_chain" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      // semi-join the successor back against the real id set: `doc_id + 1`
      // is only an edge endpoint when that document EXISTS, so the planted
      // chain never manufactures a phantom vertex when max(doc_id)+1 lands
      // inside the final block (the closed-form oracle ranges over
      // `documents` rows only)
      val pairs = ids
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .filter(expr("id_a div 50") === expr("id_b div 50"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      graft.operators.Dedup.nearDupGroups(pairs, maxIters = 3)
        .orderBy("member_id")
    }),

    // link-graph centrality over a deterministic synthetic web graph
    // ([[graft.operators.PageRank]]): two multiplicative-hash link rules
    // plus a block-hub rule (every doc links its 50-block's root — the
    // skew shape of real link graphs) over the documents id space, then
    // `prIters` rounds of fixed-iteration PageRank in integer
    // micro-units. Integer truncation makes every quantity exact and
    // order-free, so the whole ITERATIVE computation replays bit-exactly
    // in the oracle's recursive CTE — the q43-family determinism
    // contract extended to numeric iteration. Successor rules semi-join
    // back against the real id set (the q115 phantom-vertex lesson)
    "q120_link_pagerank" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      // the modulus is the id-space size, a driver scalar (bounded: one
      // max, not data); the SAME expression the oracle computes
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 7 + 3) % m,
            (col("doc_id") * 13 + 11) % m,
            col("doc_id") - (col("doc_id") % 50))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      graft.operators.PageRank.integerPageRank(edges, iters = prIters)
        .orderBy("id")
    }),

    // HITS hubs & authorities ([[graft.operators.Hits]]) in integer
    // arithmetic over a deterministic link graph with 25-block sinks
    // (high authority) and multiplicative-hash pointers (hub mass) —
    // q120's bit-exact-iteration contract on the mutually-recursive
    // centrality; L∞ rescale each half-step keeps every quantity an
    // exact integer (DECIMAL(38,0) intermediate, the ANSI-overflow trap)
    "q172_link_hits" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 17 + 5) % m,
            (col("doc_id") * 29 + 7) % m,
            col("doc_id") - (col("doc_id") % 25))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      graft.operators.Hits.integerHits(edges, iters = hitsIters)
        .orderBy("id")
    }),

    // per-vertex triangle counts ([[graft.operators.Triangles]]) over a
    // deterministic link graph with PLANTED triangle structure: a
    // successor chain (u -> u+1) + the q120 block-hub rule (u -> its
    // 50-block root) guarantees {u, u+1, hub} triangles inside every
    // block, and a multiplicative-hash rule adds the irregular tail.
    // Degree-ordered orientation (compact-forward) makes the wedge join
    // skew-proof: the 50-degree hubs orient INWARD, so they fan out
    // almost nothing. Successor rules semi-join back against the real
    // id set (the q115 phantom-vertex lesson).
    "q138_link_triangles" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            col("doc_id") + 1,
            col("doc_id") - (col("doc_id") % 50),
            (col("doc_id") * 7 + 3) % m)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      graft.operators.Triangles.vertexTriangles(edges)
        .orderBy("id")
    }),

    // k-core peel ([[graft.operators.KCore]]) over the q138 link graph
    // densified with a planted NUCLEUS — each block's first 12 members
    // close a C12(2,5) circulant (banded paths always unravel under
    // peeling, so a surviving core needs cycles) — the dense-nucleus
    // extractor (link farms survive high k, honest tail pages peel
    // away). Synchronous peeling: remove every sub-k vertex at once,
    // recompute surviving degrees, repeat to the fixpoint (here: tails
    // peel, stragglers peel, confirm — three materialized rounds, so
    // the multi-round machinery is on the gated path; KCoreSpec pins a
    // long 9-round cascade at spec scale). The oracle unrolls the same
    // peel a fixed generous round count and takes the settled table,
    // exact because the peel is monotone (any R past convergence
    // yields the identical fixpoint).
    "q139_link_kcore" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      // q138's chain+hub+hash rules PLUS two in-head circulant wraps
      // (each block's first 12 members close a C12(2,5) cycle): banded
      // paths always unravel under peeling (k above the bandwidth eats
      // the segment end-in), so a graph with a SURVIVING core needs
      // cycles — the heads + their hub are the planted nucleus (120
      // vertices at 10 blocks), and the tails cascade away over ~9
      // rounds, putting the multi-round machinery on the gated path
      val off = col("doc_id") % 50
      val root = col("doc_id") - off
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            col("doc_id") + 1,
            root,
            (col("doc_id") * 7 + 3) % m,
            when(off < 12, root + (off + 2) % 12).otherwise(col("doc_id")),
            when(off < 12, root + (off + 5) % 12).otherwise(col("doc_id"))))
            .as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      graft.operators.KCore.kCore(edges, k = kCoreK)
        .orderBy("id")
    }),

    // multi-source BFS seed depth ([[graft.operators.Sssp]]) over the
    // q138 chain+hub+hash link graph: hops to the nearest of the seed
    // pages (doc_id ≡ 0 mod 500 — the "trusted seed list" prior of
    // crawl curation). The hash shortcuts give the graph an
    // expander-like diameter, so the frontier settles in ~5 rounds at
    // every SF; depths are integers, the result bit-exact
    "q154_link_seed_depth" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            col("doc_id") + 1,
            col("doc_id") - (col("doc_id") % 50),
            (col("doc_id") * 7 + 3) % m)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      val seeds = ids.filter(pmod(col("doc_id"), lit(500)) === 0)
        .select(col("doc_id").as("id"))
      graft.operators.Sssp.seedDepth(edges, seeds)
        .orderBy("id")
    }),

    // WEIGHTED shortest distance from the q154 seed list — distributed
    // Bellman–Ford ([[graft.operators.Sssp.weightedSeedDist]]) over the
    // same link graph with deterministic integer weights
    // w = 1 + (src·7 + dst·13) % 7: a heavy shortcut now loses to a
    // longer cheap path, the distinction hop depth (q154) cannot make
    "q182_link_weighted_dist" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            col("doc_id") + 1,
            col("doc_id") - (col("doc_id") % 50),
            (col("doc_id") * 7 + 3) % m)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
        .withColumn("w", lit(1L) + (col("src") * 7 + col("dst") * 13) % 7)
      val seeds = ids.filter(pmod(col("doc_id"), lit(500)) === 0)
        .select(col("doc_id").as("id"))
      graft.operators.Sssp.weightedSeedDist(edges, seeds)
        .withColumnRenamed("d", "dist")
        .orderBy("id")
    }),

    // PERSONALIZED PageRank from the SAME trusted-seed list as q154
    // ([[graft.operators.PageRank.integerPersonalizedPageRank]]) over
    // the q120 link graph: the TrustRank-family diffusion twin of the
    // hop metric — teleport lands only on seeds, rank measures
    // link-proximity to them, integers end-to-end so the iterative
    // vector hash-compares (the q120 discipline)
    "q158_link_pagerank_personalized" -> ((s, dir) => {
      val ids = table(s, dir, "documents").select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      val edges = ids.select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 7 + 3) % m,
            (col("doc_id") * 13 + 11) % m,
            col("doc_id") - (col("doc_id") % 50))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      val seeds = ids.filter(pmod(col("doc_id"), lit(500)) === 0)
        .select(col("doc_id").as("id"))
      graft.operators.PageRank.integerPersonalizedPageRank(
          edges, seeds, iters = prIters)
        .orderBy("id")
    })
  )

  // q139 peel threshold: the in-head circulant + hub nucleus sustains
  // degree >= 6, the tails sit at 4-5, so the core is the planted 12
  // heads per block and the peel settles in 2 rounds + the confirming
  // round. k=5 would run the same nucleus through a ~12-round tail
  // cascade — correct (KCoreSpec pins a long cascade at spec scale) but
  // each materialization round costs ~1.2 s of fixed stage overhead at
  // sf0.1 (the q115 iterative floor), so the GATE uses the short peel
  private val kCoreK = 6

  // q120 PageRank rounds: enough for hub ranks to separate, few enough
  // that the recursive oracle stays cheap
  private val prIters = 6

  // q172 HITS rounds: each round is TWO half-steps (auth then hub) with
  // their own exchanges and normalizations — 3 rounds separate the
  // planted sink/hub structure while keeping the iterative floor paid
  // (the q139 per-round-cost lesson) at ~6 materialized steps
  private val hitsIters = 3

  /** q172's DuckDB twin — the HITS half-steps UNROLLED (a per-round MAX
    * normalization is two passes over the same round's frame, which a
    * recursive CTE's single-reference arm cannot express), iterative
    * CTEs MATERIALIZED per the q139 plan-doubling lesson. HUGEINT `//`
    * (floor) equals the engine's DECIMAL `div` (truncate) because every
    * quantity is non-negative.
    */
  private val hitsSql: String = {
    val scale = 1000000000L
    def norm(t: Int, p: String, raw: String, mx: String, out: String) =
      s"""$raw AS MATERIALIZED (
            SELECT e.${if (out.startsWith("a")) "dst" else "src"} AS id, SUM(p.s) AS raw
            FROM edges e JOIN $p p ON e.${if (out.startsWith("a")) "src" else "dst"} = p.id
            GROUP BY 1),
          $mx AS (SELECT MAX(raw) AS mx FROM $raw),
          $out AS MATERIALIZED (
            SELECT v.id, CASE WHEN m.mx IS NULL OR m.mx <= 0 THEN 0
                              ELSE (COALESCE(r.raw, 0)::HUGEINT * $scale) // m.mx END AS s
            FROM verts v LEFT JOIN $raw r ON v.id = r.id CROSS JOIN $mx m)"""
    val rounds = (1 to hitsIters).map { t =>
      val prevHub = if (t == 1) "h0" else s"h${t - 1}"
      norm(t, prevHub, s"ar$t", s"am$t", s"a$t") + ",\n" +
        norm(t, s"a$t", s"hr$t", s"hm$t", s"h$t")
    }.mkString(",\n")
    s"""WITH
        ids AS (SELECT doc_id FROM documents),
        mm AS (SELECT MAX(doc_id) + 1 AS m FROM ids),
        raw0 AS (
          SELECT doc_id AS src,
                 UNNEST([(doc_id * 17 + 5) % m,
                         (doc_id * 29 + 7) % m,
                         doc_id - doc_id % 25]) AS dst
          FROM ids CROSS JOIN mm),
        edges AS (
          SELECT DISTINCT src, dst FROM raw0
          WHERE src <> dst AND dst IN (SELECT doc_id FROM ids)),
        verts AS (
          SELECT DISTINCT id
          FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
        h0 AS (SELECT id, CAST($scale AS HUGEINT) AS s FROM verts),
        $rounds
        SELECT v.id, CAST(h.s AS BIGINT) AS hub, CAST(a.s AS BIGINT) AS auth
        FROM verts v
        JOIN h$hitsIters h ON v.id = h.id
        JOIN a$hitsIters a ON v.id = a.id
        ORDER BY v.id"""
  }

  /** q120's DuckDB twin. Same deterministic edge synthesis (modulus =
    * max id + 1, successor rules semi-joined to real ids), then the
    * integer recurrence as a recursive CTE over (iter, id, pr). Every
    * vertex carries a self pseudo-edge (outdeg NULL, contributing 0) so
    * vertices without in-edges survive each round while the recursive
    * arm references `pr` exactly once.
    */
  private val pagerankSql: String = {
    val scale = 1000000000000L
    s"""WITH RECURSIVE
        ids AS (SELECT doc_id FROM documents),
        mm AS (SELECT MAX(doc_id) + 1 AS m FROM ids),
        raw AS (
          SELECT doc_id AS src,
                 UNNEST([(doc_id * 7 + 3) % m,
                         (doc_id * 13 + 11) % m,
                         doc_id - doc_id % 50]) AS dst
          FROM ids CROSS JOIN mm),
        edges AS (
          SELECT DISTINCT src, dst FROM raw
          WHERE src <> dst AND dst IN (SELECT doc_id FROM ids)),
        verts AS (
          SELECT DISTINCT id
          FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
        od AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        e2 AS (
          SELECT e.src, e.dst, od.outdeg FROM edges e JOIN od USING (src)
          UNION ALL
          SELECT id, id, NULL FROM verts),
        consts AS (
          SELECT ($scale // COUNT(*)) AS init,
                 (($scale // COUNT(*)) * 15) // 100 AS tel
          FROM verts),
        pr(iter, id, pr) AS (
          SELECT 0, v.id, c.init FROM verts v CROSS JOIN consts c
          UNION ALL
          SELECT p.iter + 1, e.dst,
                 c.tel + (85 * SUM(CASE WHEN e.outdeg IS NULL THEN 0
                                        ELSE p.pr // e.outdeg END)) // 100
          FROM pr p JOIN e2 e ON e.src = p.id CROSS JOIN consts c
          WHERE p.iter < $prIters
          GROUP BY p.iter, e.dst, c.tel)
        SELECT id, pr FROM pr WHERE iter = $prIters ORDER BY id"""
  }

  /** q158's twin: q120's unrolled chain with the two PPR deltas — init
    * mass on seeds only, teleport CASE-gated to seeds (|S| replaces n
    * in the constants).
    */
  private val pprSql: String = {
    val scale = 1000000000000L
    s"""WITH RECURSIVE
        ids AS (SELECT doc_id FROM documents),
        mm AS (SELECT MAX(doc_id) + 1 AS m FROM ids),
        raw AS (
          SELECT doc_id AS src,
                 UNNEST([(doc_id * 7 + 3) % m,
                         (doc_id * 13 + 11) % m,
                         doc_id - doc_id % 50]) AS dst
          FROM ids CROSS JOIN mm),
        edges AS (
          SELECT DISTINCT src, dst FROM raw
          WHERE src <> dst AND dst IN (SELECT doc_id FROM ids)),
        verts AS (
          SELECT DISTINCT id
          FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
        od AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        e2 AS (
          SELECT e.src, e.dst, od.outdeg FROM edges e JOIN od USING (src)
          UNION ALL
          SELECT id, id, NULL FROM verts),
        consts AS (
          SELECT ($scale // COUNT(*)) AS init,
                 (($scale // COUNT(*)) * 15) // 100 AS tel
          FROM verts WHERE id % 500 = 0),
        pr(iter, id, pr) AS (
          SELECT 0, v.id, CASE WHEN v.id % 500 = 0 THEN c.init ELSE 0 END
          FROM verts v CROSS JOIN consts c
          UNION ALL
          SELECT p.iter + 1, e.dst,
                 CASE WHEN e.dst % 500 = 0 THEN c.tel ELSE 0 END
                   + (85 * SUM(CASE WHEN e.outdeg IS NULL THEN 0
                                    ELSE p.pr // e.outdeg END)) // 100
          FROM pr p JOIN e2 e ON e.src = p.id CROSS JOIN consts c
          WHERE p.iter < $prIters
          GROUP BY p.iter, e.dst, c.tel)
        SELECT id, pr FROM pr WHERE iter = $prIters ORDER BY id"""
  }

  /** q138's DuckDB twin: the SAME edge synthesis shape as q120 (chain +
    * block-hub + hash rule, semi-joined to real ids), then the SAME
    * compact-forward orientation the engine runs — degree-ordered keys
    * `degree·2^32 + id`, wedge join on the apex, closing-edge join —
    * so every intermediate is integer-exact and the per-vertex counts
    * hash-compare.
    */
  /** q140/q142's shared DuckDB chain (split → normalize → global-first
    * → keep-first → reassemble); `where` restricts the OUTPUT rows
    * (q142: increment docs only) while keep-first stays global.
    */
  private def paragraphDedupSql(where: String): String =
    s"""WITH d AS (
           SELECT doc_id,
                  'Shared header for ' || source || chr(10) || text ||
                    chr(10) || 'shared global footer' AS dirty
           FROM documents),
         sp AS (SELECT doc_id, STRING_SPLIT(dirty, chr(10)) AS l FROM d),
         pars AS (
           SELECT doc_id, i - 1 AS pos, l[i] AS par,
                  MD5(LOWER(TRIM(l[i]))) AS h,
                  doc_id * 1000000 + (i - 1) AS occ
           FROM sp,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(l))) AS i) u),
         fst AS (SELECT h, MIN(occ) AS first_occ FROM pars GROUP BY h),
         kept AS (
           SELECT p.doc_id, p.pos, p.par
           FROM pars p JOIN fst f ON f.h = p.h AND p.occ = f.first_occ),
         tot AS (SELECT doc_id, COUNT(*) AS n_pars FROM pars GROUP BY doc_id),
         ka AS (
           SELECT doc_id, COUNT(*) AS n_kept,
                  STRING_AGG(par, chr(10) ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(t.n_pars AS BIGINT) AS n_pars,
                CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
                COALESCE(k.clean_text, '') AS clean_text
         FROM tot t LEFT JOIN ka k USING (doc_id)
         WHERE $where
         ORDER BY t.doc_id"""

  /** The q138/q139 deterministic link graph as DuckDB CTEs, up to its
    * symmetric undirected closure `und(src, dst)`; `rules` is the
    * per-vertex successor list spliced into the UNNEST.
    */
  private def linkGraphUndCtes(rules: String): String =
    s"""ids AS (SELECT doc_id FROM documents),
        mm AS (SELECT MAX(doc_id) + 1 AS m FROM ids),
        raw AS (
          -- LATERAL, not UNNEST-in-SELECT: DuckDB 1.0's binder ICEs on
          -- the SELECT-list form under a DISTINCT + IN-subquery consumer
          -- ("Failed to bind column reference dst"); the lateral form
          -- plans clean and is the same row set
          SELECT doc_id AS src, u.dst
          FROM ids CROSS JOIN mm,
          LATERAL (SELECT UNNEST([$rules]) AS dst) u),
        dedges AS (
          SELECT DISTINCT src, dst FROM raw
          WHERE src <> dst AND dst IN (SELECT doc_id FROM ids)),
        und AS (
          SELECT DISTINCT src, dst
          FROM (SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges))"""

  private val chainHubHashRules: String =
    """doc_id + 1,
       doc_id - doc_id % 50,
       (doc_id * 7 + 3) % m"""

  private val trianglesSql: String =
    s"""WITH ${linkGraphUndCtes(chainHubHashRules)},
        deg AS (SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src),
        adj AS (
          SELECT u.src AS u, u.dst AS v,
                 dv.degree * 4294967296 + dv.id AS kv
          FROM und u
          JOIN deg du ON du.id = u.src
          JOIN deg dv ON dv.id = u.dst
          WHERE du.degree * 4294967296 + du.id < dv.degree * 4294967296 + dv.id),
        wedge AS (
          SELECT x.u, x.v, y.v AS w
          FROM adj x JOIN adj y ON y.u = x.u AND x.kv < y.kv),
        tri AS (
          SELECT wd.u, wd.v, wd.w
          FROM wedge wd JOIN adj c ON c.u = wd.v AND c.v = wd.w),
        cnt AS (
          SELECT id, COUNT(*) AS n_tri
          FROM (SELECT u AS id FROM tri
                UNION ALL SELECT v FROM tri
                UNION ALL SELECT w FROM tri)
          GROUP BY id)
        SELECT d.id, CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_tri
        FROM deg d LEFT JOIN cnt c USING (id)
        ORDER BY d.id"""

  /** q139's DuckDB twin: the synchronous peel UNROLLED a fixed generous
    * round count (non-recursive CTEs, since each round references its
    * predecessor twice — once for each edge endpoint — which a
    * recursive CTE's single-reference rule cannot express). Exact
    * because the peel is monotone: once the surviving set stops
    * changing, every later round reproduces it, so any unroll depth at
    * or past convergence yields the identical fixpoint (the engine
    * asserts its own convergence; KCoreSpec pins the gate graph's round
    * count well inside the unroll).
    */
  private val kcoreSql: String = {
    val rounds = 16
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    // reference, and each round references its predecessor twice — the
    // same exponential plan-doubling the engine's RDD rebase prevents;
    // without it the unrolled peel expands 2^rounds scans of documents
    val peel = (0 until rounds).map { r =>
      s"""d$r AS MATERIALIZED (
            SELECT u.src AS id, COUNT(*) AS dg
            FROM und u JOIN s$r a ON a.id = u.src JOIN s$r b ON b.id = u.dst
            GROUP BY u.src),
          s${r + 1} AS MATERIALIZED (SELECT id FROM d$r WHERE dg >= $kCoreK)"""
    }.mkString(",\n          ")
    val kcoreRules = chainHubHashRules + """,
       CASE WHEN doc_id % 50 < 12
            THEN doc_id - doc_id % 50 + (doc_id % 50 + 2) % 12
            ELSE doc_id END,
       CASE WHEN doc_id % 50 < 12
            THEN doc_id - doc_id % 50 + (doc_id % 50 + 5) % 12
            ELSE doc_id END"""
    s"""WITH ${linkGraphUndCtes(kcoreRules)},
        s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM und),
        $peel
        SELECT id, CAST(dg AS BIGINT) AS core_deg
        FROM d${rounds - 1} WHERE dg >= $kCoreK
        ORDER BY id"""
  }

  /** Exact-Jaccard pair CTEs (shared by the pair oracles and q43's
    * connected-components closure). Yields a `jpairs(id_a, id_b,
    * jaccard)` relation.
    */
  private val toksCte: String =
    """toks AS (
          SELECT doc_id,
                 STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' ') AS t
          FROM documents)"""

  /** Distinct word-n-gram expansion at width `n` over a `toks` slice —
    * the SQL twin of [[graft.functions.TextFunctions.shingleSet]].
    */
  private def shingleCte(name: String, n: Int, where: String = "TRUE"): String = {
    val gram = (0 until n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""$name AS (
          SELECT DISTINCT doc_id, $gram AS sh
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${n - 1})) AS i) u
          WHERE LEN(t) >= $n AND ($where))"""
  }

  /** q82/q84/q85: repeated >= spanK-token spans across documents, merged
    * per doc. Identical interval-merge rule to [[graft.operators.Spans]]
    * (fixed width ==> lag suffices); positions are 1-based here vs
    * 0-based in the engine, which only differences consume.
    *
    * `grouped` scopes the repetition bar (and the hit join) to documents
    * of the same `source` and adds the source column to the output — the
    * q85 within-source boilerplate semantics. `where` restricts the
    * OUTPUT rows only (q84's increment view); the repetition count always
    * sees every document, exactly like the engine's corpus-df +
    * increment-df sum.
    */
  private def repeatedSpansSql(grouped: Boolean = false, where: String = "TRUE"): String = {
    val src = if (grouped) ", source" else ""
    val srcOut = if (grouped) ", t.source" else ""
    val srcJoin = if (grouped) " AND r.source = w.source" else ""
    val gram = (0 until spanK).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH toks AS (
          SELECT doc_id$src,
                 STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        w AS (
          SELECT doc_id$src, i AS pos, $gram AS sh
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${spanK - 1})) AS i) u
          WHERE LEN(t) >= $spanK),
        rep AS (SELECT sh$src FROM w GROUP BY ALL HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (SELECT w.doc_id, w.pos FROM w JOIN rep r ON r.sh = w.sh$srcJoin),
        flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                        OR pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $spanK
                      THEN 1 ELSE 0 END AS new_span
          FROM hits),
        numbered AS (
          SELECT doc_id, pos,
                 SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
          FROM flagged),
        spans AS (
          SELECT doc_id, span_id, MAX(pos) - MIN(pos) + $spanK AS span_len
          FROM numbered GROUP BY 1, 2),
        perdoc AS (
          SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS covered_tokens,
                 COUNT(*) AS n_spans
          FROM spans GROUP BY 1)
        SELECT t.doc_id$srcOut, CAST(LEN(t.t) AS BIGINT) AS n_tokens,
               COALESCE(p.covered_tokens, 0) AS covered_tokens,
               COALESCE(p.n_spans, 0) AS n_spans,
               ROUND(COALESCE(p.covered_tokens, 0)::DOUBLE / LEN(t.t), 6) AS frac_covered
        FROM toks t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
        WHERE $where
        ORDER BY t.doc_id"""
  }

  /** q86: delete every repeated window's tokens except in the window's
    * OWNER document (min doc_id containing it) and rebuild the normalized
    * token stream. Engine positions are 0-based, DuckDB's 1-based — the
    * GENERATE_SERIES offsets are internal, only the reconstructed string
    * compares.
    */
  private val stripSpansSql: String = {
    val gram = (0 until spanK).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH toks AS (
          SELECT doc_id,
                 STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        w AS (
          SELECT doc_id, i AS pos, $gram AS sh
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${spanK - 1})) AS i) u
          WHERE LEN(t) >= $spanK),
        rep AS (
          SELECT sh, MIN(doc_id) AS owner FROM w
          GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (
          SELECT w.doc_id, w.pos FROM w
          JOIN rep r ON r.sh = w.sh AND w.doc_id <> r.owner),
        removed AS (
          SELECT DISTINCT doc_id, pos + off AS tpos
          FROM hits, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, ${spanK - 1})) AS off) o),
        tok AS (
          SELECT doc_id, i AS tpos, t[i] AS token
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t))) AS i) u),
        kept AS (
          SELECT k.doc_id, k.tpos, k.token FROM tok k
          WHERE NOT EXISTS (SELECT 1 FROM removed r
                            WHERE r.doc_id = k.doc_id AND r.tpos = k.tpos)),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 STRING_AGG(token, ' ' ORDER BY tpos) AS clean_text
          FROM kept GROUP BY doc_id)
        SELECT t.doc_id, CAST(LEN(t.t) AS BIGINT) AS n_tokens,
               CAST(LEN(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(a.clean_text, '') AS clean_text
        FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        ORDER BY t.doc_id"""
  }

  /** q217's cross-set excision twin: the q86 strip algebra with the
    * ownership rule replaced by eval-set membership — a train window
    * strips iff its string occurs in ANY eval doc.
    */
  private val exciseSql: String = {
    val gram = (0 until spanK).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""WITH toks0 AS (
          SELECT doc_id,
                 STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        equotes AS (
          SELECT doc_id // $evalMod AS qk, ARRAY_TO_STRING(t[1:12], ' ') AS quote
          FROM toks0 WHERE doc_id % $evalMod = 0),
        train AS (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 10 = 3 THEN CONCAT_WS(' ', d.text, q.quote)
                      ELSE d.text END AS text
          FROM documents d LEFT JOIN equotes q ON q.qk = d.doc_id % 20
          WHERE d.doc_id % $evalMod <> 0),
        toks AS (
          SELECT doc_id,
                 STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM train),
        w AS (
          SELECT doc_id, i AS pos, $gram AS sh
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${spanK - 1})) AS i) u
          WHERE LEN(t) >= $spanK),
        ev AS (
          SELECT DISTINCT $gram AS sh
          FROM toks0, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - ${spanK - 1})) AS i) u
          WHERE doc_id % $evalMod = 0 AND LEN(t) >= $spanK),
        hits AS (SELECT w.doc_id, w.pos FROM w JOIN ev USING (sh)),
        removed AS (
          SELECT DISTINCT doc_id, pos + off AS tpos
          FROM hits, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, ${spanK - 1})) AS off) o),
        tok AS (
          SELECT doc_id, i AS tpos, t[i] AS token
          FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t))) AS i) u),
        kept AS (
          SELECT k.doc_id, k.tpos, k.token FROM tok k
          WHERE NOT EXISTS (SELECT 1 FROM removed r
                            WHERE r.doc_id = k.doc_id AND r.tpos = k.tpos)),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 STRING_AGG(token, ' ' ORDER BY tpos) AS clean_text
          FROM kept GROUP BY doc_id)
        SELECT t.doc_id, CAST(LEN(t.t) AS BIGINT) AS n_tokens,
               CAST(LEN(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(a.clean_text, '') AS clean_text
        FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        ORDER BY t.doc_id"""
  }

  /** q22's FULL DuckDB twin — not just the verification half. DuckDB
    * recomputes the SimHash signatures bit-exactly via the shared
    * [[HashOracleSql]] FNV-1a+fmix64 chain, then mirrors the engine's
    * band/verify tail (pigeonhole candidates, popcount on the
    * signed-wrapped sketches). This flips q22 from rows-only to
    * hash-green: candidates AND hamming values must agree exactly.
    */
  private def simhashSql(maxHamming: Int, bands: Int = 4): String = {
    val w = 64 / bands
    val pow2 = (0 until 64).map(b => s"($b, ${java.math.BigInteger.ONE.shiftLeft(b)}::HUGEINT)").mkString(", ")
    val bandp = (0 until bands).map(b => s"($b, ${java.math.BigInteger.ONE.shiftLeft(w * b)}::HUGEINT)").mkString(", ")
    val pieceMod = 1L << w
    s"""WITH RECURSIVE
        toks AS (
          SELECT doc_id, UNNEST(STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ')) AS token
          FROM documents),
        tokh AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id, token) AS tid, HEX(ENCODE(token)) AS hx FROM toks),
        ${HashOracleSql.fnvFmixCtes},
        pow2(b, p) AS (VALUES $pow2),
        votes AS (
          SELECT t.doc_id, p.b, SUM(CASE WHEN (s.x // p.p) % 2 = 1 THEN 1 ELSE -1 END) AS vs
          FROM sig s JOIN tokh t USING (tid) CROSS JOIN pow2 p
          GROUP BY 1, 2),
        sk AS (
          SELECT v.doc_id, SUM(CASE WHEN v.vs > 0 THEN p.p ELSE 0::HUGEINT END) AS sk
          FROM votes v JOIN pow2 p USING (b) GROUP BY 1),
        bandp(band, bp) AS (VALUES $bandp),
        pieces AS (SELECT doc_id, band, (sk // bp) % $pieceMod AS piece FROM sk CROSS JOIN bandp),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pieces a JOIN pieces b ON a.band = b.band AND a.piece = b.piece AND a.doc_id < b.doc_id),
        sks AS (SELECT doc_id, ${HashOracleSql.wrapSigned("sk")} AS skb FROM sk)
        SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.skb, sb.skb)) AS BIGINT) AS hamming
        FROM cand c JOIN sks sa ON sa.doc_id = c.id_a JOIN sks sb ON sb.doc_id = c.id_b
        WHERE bit_count(xor(sa.skb, sb.skb)) <= $maxHamming
        ORDER BY id_a, id_b"""
  }

  private val jaccardCtes: String =
    s"""$toksCte,
        ${shingleCte("sh", shingleN)},
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jpairs AS (
          SELECT id_a, id_b,
                 ROUND(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
          FROM common
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= $jaccardThreshold)"""

  /** Shared exact-Jaccard SQL (ground truth for q21 and q23). */
  private val jaccardSql: String =
    s"""WITH $jaccardCtes
        SELECT id_a, id_b, jaccard FROM jpairs ORDER BY id_a, id_b"""

  /** Transitive closure of the near-dup pairs (connected components) up
    * to a `keeps(doc_id, keep_id)` relation: representative = min id,
    * singletons keep themselves. Shared by q43 and q74.
    */
  private[queries] val groupsCtes: String =
    s"""$jaccardCtes,
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM jpairs
          UNION SELECT id_b, id_a FROM jpairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        keeps AS (
          SELECT d.doc_id,
                 CAST(COALESCE(LEAST(MIN(r.dst), d.doc_id), d.doc_id) AS BIGINT) AS keep_id
          FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
          GROUP BY d.doc_id)"""

  private val groupsSql: String =
    s"""WITH RECURSIVE $groupsCtes
        SELECT doc_id, keep_id FROM keeps ORDER BY doc_id"""

  /** q203's twin: min-label reachability components + capped BFS depths
    * + the parity-conflict count, all over the planted block graph.
    */
  private val bipartiteSql: String =
    s"""WITH RECURSIVE
        ids AS (SELECT doc_id FROM documents),
        raw AS (
          SELECT doc_id AS src, u.dst
          FROM ids,
          LATERAL (SELECT UNNEST([
            doc_id - doc_id % 12 + (doc_id % 12 + 1) % 12,
            CASE WHEN doc_id % 12 = 0 AND (doc_id // 12) % 2 = 0
                 THEN doc_id + 2 END]) AS dst) u),
        dedges AS (
          SELECT DISTINCT src, dst FROM raw
          WHERE dst IS NOT NULL AND src <> dst
            AND dst IN (SELECT doc_id FROM ids)),
        und AS (
          SELECT DISTINCT src, dst
          FROM (SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges)),
        reach(id, lab) AS (
          SELECT DISTINCT src, src FROM und
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN und e ON e.src = r.id),
        comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        walk(id, dth) AS (
          SELECT id, CAST(0 AS BIGINT) FROM comp WHERE id = comp
          UNION
          SELECT e.dst, w.dth + 1 FROM walk w JOIN und e ON e.src = w.id
          WHERE w.dth < 25),
        dep AS (SELECT id, MIN(dth) AS d FROM walk GROUP BY id),
        confl AS (
          SELECT c.comp, COUNT(*) AS n_conflicts
          FROM und e
          JOIN dep a ON a.id = e.src
          JOIN dep b ON b.id = e.dst
          JOIN comp c ON c.id = e.src
          WHERE e.src < e.dst AND (a.d + b.d) % 2 = 0
          GROUP BY 1)
        SELECT c.comp, CAST(COUNT(*) AS BIGINT) AS n_vertices,
               CAST(COALESCE(MAX(f.n_conflicts), 0) AS BIGINT) AS n_conflicts,
               COALESCE(MAX(f.n_conflicts), 0) = 0 AS bipartite
        FROM comp c LEFT JOIN confl f ON f.comp = c.comp
        GROUP BY c.comp ORDER BY c.comp"""

  /** q200: exact integer corpus metrics + the q43 closure's cluster
    * structure as one (metric, value) frame.
    */
  private val scorecardSql: String =
    s"""WITH RECURSIVE $groupsCtes,
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(${TextQueries.nTokensSql}) AS BIGINT) AS n_tokens,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
          FROM documents),
        dd AS (
          SELECT CAST(COUNT(DISTINCT keep_id) AS BIGINT) AS n_clusters,
                 CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_members
          FROM keeps)
        SELECT 'n_docs' AS metric, n_docs AS value FROM base
        UNION ALL SELECT 'n_tokens', n_tokens FROM base
        UNION ALL SELECT 'n_chars', n_chars FROM base
        UNION ALL SELECT 'n_langs', n_langs FROM base
        UNION ALL SELECT 'n_sources', n_sources FROM base
        UNION ALL SELECT 'n_clusters', n_clusters FROM dd
        UNION ALL SELECT 'n_dup_members', n_dup_members FROM dd
        ORDER BY metric"""

  /** q197: the q43 closure + per-cluster arg-max keeper by
    * (n_chars desc, doc_id).
    */
  private val canonicalSql: String =
    s"""WITH RECURSIVE $groupsCtes,
        lab AS (
          SELECT k.doc_id, d.n_chars, k.keep_id AS cluster
          FROM keeps k JOIN documents d ON d.doc_id = k.doc_id),
        can AS (
          SELECT cluster, doc_id AS canon_id, n_chars AS canon_n_chars,
                 ROW_NUMBER() OVER (PARTITION BY cluster
                   ORDER BY n_chars DESC, doc_id) AS rn
          FROM lab)
        SELECT l.doc_id, l.cluster, c.canon_id, c.canon_n_chars
        FROM lab l JOIN (SELECT * FROM can WHERE rn = 1) c USING (cluster)
        ORDER BY l.doc_id"""

  /** q74: 12/2/2-sixteenths split on the first hex char of md5(keep_id) —
    * the exact rule [[Dedup.leakageSafeSplit]] computes.
    */
  private val splitSql: String =
    s"""WITH RECURSIVE $groupsCtes
        SELECT doc_id, keep_id,
               CASE WHEN SUBSTR(MD5(CAST(keep_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                    WHEN SUBSTR(MD5(CAST(keep_id AS VARCHAR)), 1, 1) <= 'd' THEN 'valid'
                    ELSE 'test' END AS split
        FROM keeps ORDER BY doc_id"""

  /** Exact-cosine SQL structured to fold identically to the engine kernel:
    * dot/(sqrt(aa)*sqrt(bb)), sequential double accumulation.
    */
  private def cosineExpr(a: String, b: String): String =
    s"""LIST_DOT_PRODUCT(CAST($a.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[]))
        / (SQRT(LIST_DOT_PRODUCT(CAST($a.embedding AS DOUBLE[]), CAST($a.embedding AS DOUBLE[])))
         * SQRT(LIST_DOT_PRODUCT(CAST($b.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[]))))"""

  /** Shared exact-cosine SQL (ground truth for q24 and q25). */
  private val embeddingSql: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(${cosineExpr("a", "b")}, 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ${cosineExpr("a", "b")} >= $cosineThreshold
        ORDER BY id_a, id_b"""

  /** q96's oracle is GENERATED from the staged quantizer state the query
    * ran against: the stored centroids and recorded training mean become
    * SQL literals, and the assignment distances are then pure arithmetic
    * DuckDB recomputes independently — the q22/q32 hash-kernel pattern
    * extended to learned state (pinned as constants, the computation
    * verified). Captured when the query runs; the driver always runs the
    * full query set before dumping oracle_sql.json, so the entry is
    * present on every correctness run (a restricted dev dump that skips
    * q96 falls back to the driver's rows-only check).
    */
  @volatile private var q96Oracle: Option[() => String] = None

  /** q102's oracle, captured when the query runs (same contract as
    * [[q96Oracle]]): the batch membership comes from the stream's own
    * file-source commit log ([[batchMembership]]) and the quantizer
    * literals from the staged corpus index.
    */
  @volatile private var q102Oracle: Option[() => Option[String]] = None

  /** The (vec_id → micro-batch) assignment a drained file-stream ingest
    * actually used, read from the checkpoint's file-source log
    * (`sources/0/<batchId>` — one entry per file the batch read; the
    * AUTHORITATIVE record, present even for a query whose search
    * returned no rows). Driver-side work is feed-sized by the ingest
    * contract (the increment, not the corpus).
    */
  private def batchMembership(s: SparkSession, ckpt: String): Seq[(Long, Long)] = {
    val srcDir = new org.apache.hadoop.fs.Path(s"$ckpt/sources/0")
    val fs = srcDir.getFileSystem(s.sessionState.newHadoopConf())
    val pathRe = """"path":"([^"]+)"""".r
    fs.listStatus(srcDir).map(_.getPath)
      .filter(_.getName.forall(_.isDigit)).toSeq
      .flatMap { p =>
        val in = fs.open(p)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val files = content.linesIterator
          .flatMap(pathRe.findFirstMatchIn(_).map(_.group(1))).toSeq
        s.read.parquet(files: _*).select("vec_id").collect()
          .map(r => (r.getLong(0), p.getName.toLong))
      }
  }

  private def dlit(x: Double): String = HashOracleSql.dlit(x)

  private def q96Sql(s: SparkSession, idx: String): String = {
    val trainMean = s.read.parquet(s"$idx/meta").head().getAs[Double]("train_mean_dist")
    val rows = s.read.parquet(s"$idx/centroids").orderBy("cell").collect()
      .map { r =>
        val c = r.getSeq[Float](1).toArray
        val cc = graft.functions.expr.DriftOps.selfDot(c)
        s"(${r.getInt(0)}, CAST([${c.map(x => dlit(x.toDouble)).mkString(", ")}] AS DOUBLE[]), ${dlit(cc)})"
      }.mkString(", ")
    s"""WITH cents(cell, c, cc) AS (VALUES $rows),
        d AS (
          SELECT e.vec_id, c.cell,
                 LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                   - 2 * LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), c.c) + c.cc AS d2
          FROM embeddings e CROSS JOIN cents c
          WHERE e.vec_id >= $corpusSplit),
        m AS (SELECT vec_id, MIN(d2) AS md2 FROM d GROUP BY vec_id)
        SELECT d.vec_id, MIN(d.cell) AS cell,
               ROUND(SQRT(GREATEST(m.md2, 0)), 6) AS dist,
               ROUND(SQRT(GREATEST(m.md2, 0)) / ${dlit(trainMean)}, 6) AS drift
        FROM d JOIN m ON d.vec_id = m.vec_id AND d.d2 = m.md2
        GROUP BY d.vec_id, m.md2
        ORDER BY d.vec_id"""
  }

  def oracleSql: Map[String, String] =
    q96Oracle.map(f => "q96_semantic_drift" -> f()).toMap ++
    q102Oracle.flatMap(f => f()).map("q102_ann_ingest_stream_ivfpq" -> _).toMap ++ Map(
    "q20_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents
         GROUP BY MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'))
         ORDER BY keep_id""",
    // q140's twin: the same split -> normalize -> global-first ->
    // keep-first -> reassemble chain; first-occurrence keys are the
    // same packed doc_id*1e6+pos integers, and STRING_AGG(... ORDER BY
    // pos) replays the engine's sorted reassembly
    "q140_paragraph_dedup" -> paragraphDedupSql("TRUE"),
    // q142 equals the from-scratch computation restricted to increment
    // docs — the oracle IS that restriction, so the staged-state merge
    // has to reproduce global keep-first exactly
    "q142_paragraph_dedup_incremental" ->
      paragraphDedupSql(s"t.doc_id >= $corpusSplit"),
    // NOT EXISTS (not NOT IN): matches the null semantics of Spark's
    // left_anti should a fingerprint ever be null
    // Bloom gate replayed bit-exactly: every distinct fingerprint hashes
    // once through the shared FNV-1a+fmix64 chain, positions are the
    // q103 multiply-shift buckets mod 2^16, set bits come from the
    // corpus side, and a row is maybe iff all 4 of its position rows hit
    "q109_bloom_membership" -> {
      import graft.functions.expr.CmsParams
      val posSelects = (0 until 4).map { i =>
        val prod = HashOracleSql.mulMod64("x", s"${CmsParams.aU(i)}::HUGEINT")
        s"""SELECT f, $i AS i,
                   (($prod) + ${CmsParams.bU(i)}::HUGEINT) % 65536 AS pos
            FROM fh"""
      }.mkString("\n UNION ALL\n")
      s"""WITH RECURSIVE
            fp AS (SELECT doc_id,
                          MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
                   FROM documents),
            cfp AS (SELECT DISTINCT f FROM fp WHERE doc_id < $corpusSplit),
            ifp AS (SELECT doc_id, f FROM fp WHERE doc_id >= $corpusSplit),
            allf AS (SELECT f FROM cfp UNION SELECT f FROM ifp),
            tokh AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f) AS tid, HEX(ENCODE(f)) AS hx
                     FROM allf),
            ${HashOracleSql.fnvFmixCtes},
            fh AS (SELECT t.f, s.x FROM tokh t JOIN sig s USING (tid)),
            pb AS ($posSelects),
            setpos AS (SELECT DISTINCT pos FROM pb JOIN cfp USING (f)),
            hits AS (SELECT p.f, COUNT(*) AS nh
                     FROM pb p JOIN setpos sp USING (pos) GROUP BY p.f),
            gate AS (SELECT i.doc_id,
                            COALESCE(h.nh, 0) = 4 AS bloom_maybe,
                            i.f IN (SELECT f FROM cfp) AS exact_mem
                     FROM ifp i LEFT JOIN hits h ON h.f = i.f)
          SELECT doc_id, bloom_maybe,
                 (bloom_maybe AND exact_mem) AS is_dup
          FROM gate ORDER BY doc_id"""
    },
    "q50_dedup_incremental" ->
      """WITH fp AS (
           SELECT doc_id,
                  MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS f
           FROM documents)
         SELECT doc_id FROM (
           SELECT doc_id, f,
                  ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
           FROM fp WHERE doc_id >= 250) i
         WHERE rn = 1
           AND NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 250 AND c.f = i.f)
         ORDER BY doc_id""",
    "q21_dedup_minhash_lsh" -> jaccardSql,
    "q22_dedup_simhash" -> simhashSql(maxHamming = 3),
    "q23_dedup_ngram_jaccard" -> jaccardSql,
    // cross-set exact Jaccard over the same planted-leak construction:
    // eval = (doc_id ≡ 7 mod 10) at id+1e6 with the first token dropped
    "q148_decontaminate_fuzzy" ->
      s"""WITH tr AS (
            SELECT doc_id,
                   STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS t
            FROM documents),
          ev AS (SELECT doc_id + 1000000 AS doc_id, t[2:] AS t
                 FROM tr WHERE doc_id % 10 = 7),
          shtr AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
                   FROM tr, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS i) u
                   WHERE LEN(t) >= 3),
          shev AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
                   FROM ev, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS i) u
                   WHERE LEN(t) >= 3),
          na AS (SELECT doc_id, COUNT(*) AS n FROM shev GROUP BY 1),
          nb AS (SELECT doc_id, COUNT(*) AS n FROM shtr GROUP BY 1),
          ix AS (SELECT e.doc_id AS eval_id, r.doc_id AS train_id, COUNT(*) AS c
                 FROM shev e JOIN shtr r ON e.sh = r.sh GROUP BY 1, 2),
          j AS (SELECT ix.eval_id, ix.train_id,
                       ix.c / (na.n + nb.n - ix.c) AS jacc
                FROM ix JOIN na ON na.doc_id = ix.eval_id
                        JOIN nb ON nb.doc_id = ix.train_id)
          SELECT eval_id, train_id, ROUND(jacc, 6) AS jaccard FROM j
          WHERE jacc >= $jaccardThreshold ORDER BY eval_id, train_id""",
    // directed containment: same shingle CTEs, asymmetric denominator,
    // both orientations of a qualifying pair
    "q122_dedup_containment" ->
      s"""WITH $toksCte,
          ${shingleCte("sh", shingleN)},
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
            GROUP BY 1, 2)
          SELECT id_a, id_b,
                 ROUND(n_common::DOUBLE / sa.n_sh, 6) AS containment
          FROM common JOIN sizes sa ON sa.doc_id = id_a
          WHERE n_common::DOUBLE / sa.n_sh >= $jaccardThreshold
          ORDER BY id_a, id_b""",
    // q137's twin mirrors the ENGINE'S OWN blocking (deletion
    // signatures -> signature equi-join -> levenshtein verify ->
    // distinct) because the naive all-pairs levenshtein over 15k names
    // is quadratic in DuckDB too; the blocking is exact (zero false
    // negatives at d=1), so this equals the brute-force answer
    "q137_er_name_pairs" ->
      """WITH s AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
          sigs AS (
            SELECT id, nm,
                   SUBSTR(nm, 1, del) || SUBSTR(nm, del + 2) AS sig
            FROM s,
            LATERAL (SELECT UNNEST(GENERATE_SERIES(0, LENGTH(nm))) AS del) u)
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
          FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.id < b.id
          WHERE levenshtein(a.nm, b.nm) <= 1
          ORDER BY id_a, id_b""",
    // exact Jaccard over the FULL document set, restricted to pairs with
    // at least one increment member — corpus-vs-corpus pairs excluded
    "q70_dedup_incremental_minhash" ->
      s"""WITH $jaccardCtes
          SELECT id_a, id_b, jaccard FROM jpairs
          WHERE id_a >= $corpusSplit OR id_b >= $corpusSplit
          ORDER BY id_a, id_b""",
    // the streamed ingest must land on the identical single-shot answer
    "q92_dedup_ingest_stream" ->
      s"""WITH $jaccardCtes
          SELECT id_a, id_b, jaccard FROM jpairs
          WHERE id_a >= $corpusSplit OR id_b >= $corpusSplit
          ORDER BY id_a, id_b""",
    "q43_dedup_groups" -> groupsSql,
    "q197_dedup_canonical" -> canonicalSql,
    "q200_corpus_scorecard" -> scorecardSql,
    "q203_link_bipartite" -> bipartiteSql,
    // chain components have a closed-form answer: the block minimum
    "q115_dedup_groups_chain" ->
      """SELECT doc_id AS member_id, (doc_id // 50) * 50 AS keep_id
         FROM documents
         ORDER BY member_id""",
    // fixed-iteration integer PageRank replayed as a recursive CTE: the
    // same edge synthesis, then each round folds the previous round's
    // rank rows through the (edges + per-vertex self pseudo-edge) set —
    // the self rows keep no-in-edge vertices alive so the recursion
    // references the CTE exactly once. All arithmetic is truncated
    // non-negative integer division, so Spark and DuckDB agree bit-wise
    "q120_link_pagerank" -> pagerankSql,
    "q158_link_pagerank_personalized" -> pprSql,
    "q172_link_hits" -> hitsSql,
    // brute-force levenshtein blocking is EQUIVALENT to the engine's
    // FastSS signatures at d=1 (zero false negatives, exact verify)
    "q181_er_match_scoring" ->
      """WITH base AS (SELECT c_custkey AS k, c_name, c_nationkey,
                              CAST(FLOOR(c_acctbal/1000) AS BIGINT) AS band
                       FROM customer),
         l AS (SELECT k AS lid, c_name AS lname, c_nationkey AS lnation,
                      band AS lband FROM base),
         r AS (SELECT k + 1000000 AS rid,
                      CASE WHEN k % 3 = 0
                           THEN SUBSTR(c_name, 1, CAST(9 + k % 9 AS INT))
                                || CHR(CAST(65 + k % 26 AS INT))
                                || SUBSTR(c_name, CAST(11 + k % 9 AS INT))
                           ELSE c_name END AS rname,
                      (c_nationkey + CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) % 25 AS rnation,
                      band + CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS rband
               FROM base WHERE k % 2 = 0),
         cand AS (SELECT lid, rid, lname, rname, lnation, rnation, lband, rband
                  FROM l JOIN r ON levenshtein(lname, rname) <= 1),
         sc AS (SELECT lid, rid,
                       CASE WHEN lname = rname THEN 40 ELSE 30 END +
                       CASE WHEN lnation = rnation THEN 12 ELSE -15 END +
                       CASE WHEN lband = rband THEN 8 ELSE -5 END AS score
                FROM cand)
         SELECT lid, rid, CAST(score AS BIGINT) AS score,
                CASE WHEN score >= 45 THEN 'match'
                     WHEN score >= 20 THEN 'possible'
                     ELSE 'non_match' END AS verdict
         FROM sc ORDER BY lid, rid""",
    "q138_link_triangles" -> trianglesSql,
    "q139_link_kcore" -> kcoreSql,
    // BFS as a capped recursive CTE: UNION dedups (id, d) pairs so the
    // recursion is bounded by V × cap even through cycles; MIN(d) at
    // the end is the hop distance, exact because cap 20 is far past the
    // measured seed-set eccentricity (5 at both gate SFs)
    "q154_link_seed_depth" ->
      s"""WITH RECURSIVE ${linkGraphUndCtes(chainHubHashRules)},
          reach(id, d) AS (
            SELECT doc_id, 0 FROM ids WHERE doc_id % 500 = 0
            UNION
            SELECT e.dst, r.d + 1
            FROM reach r JOIN und e ON e.src = r.id
            WHERE r.d < 20)
          SELECT id, CAST(MIN(d) AS BIGINT) AS depth
          FROM reach GROUP BY id ORDER BY id""",
    // weighted twin: und carries the ORIGINAL directed edge's weight on
    // both orientations (min per pair — the engine's symmetrize rule);
    // cap 100 ≫ max shortest distance (weights ≤ 7 × hop ecc ~8), and
    // every path step adds ≥ 1 so the recursion is depth-bounded
    "q182_link_weighted_dist" ->
      s"""WITH RECURSIVE ${linkGraphUndCtes(chainHubHashRules)},
          undw AS (
            SELECT src, dst, MIN(w) AS w FROM (
              SELECT src, dst, 1 + (src*7 + dst*13) % 7 AS w FROM dedges
              UNION ALL
              SELECT dst, src, 1 + (src*7 + dst*13) % 7 FROM dedges)
            GROUP BY 1, 2),
          walk(id, d) AS (
            SELECT doc_id, CAST(0 AS BIGINT) FROM ids WHERE doc_id % 500 = 0
            UNION
            SELECT e.dst, wk.d + e.w
            FROM walk wk JOIN undw e ON e.src = wk.id
            WHERE wk.d + e.w < 100)
          SELECT id, CAST(MIN(d) AS BIGINT) AS dist
          FROM walk GROUP BY id ORDER BY id""",
    // the incremental merge must land on the identical from-scratch
    // closure — strongest possible check for the star-edge equivalence
    "q91_dedup_groups_incremental" -> groupsSql,
    "q82_repeated_spans" -> repeatedSpansSql(),
    // full-corpus span audit restricted to the increment's rows — the
    // repetition count still sees every document (corpus + increment)
    "q84_repeated_spans_incremental" ->
      repeatedSpansSql(where = s"t.doc_id >= $corpusSplit"),
    "q85_boilerplate_by_source" -> repeatedSpansSql(grouped = true),
    "q86_strip_repeated_spans" -> stripSpansSql,
    "q217_decontaminate_excise" -> exciseSql,
    "q74_train_split" -> splitSql,
    "q24_dedup_embedding" -> embeddingSql,
    "q25_dedup_embedding_lsh" -> embeddingSql,
    "q87_dedup_semantic" -> embeddingSql,
    // per eval doc: distinct 5-grams, how many appear in the corpus side,
    // and the contaminated fraction — zero-match docs kept via LEFT JOIN
    "q76_eval_contamination" ->
      s"""WITH $toksCte,
          ${shingleCte("esh", contaminationN, s"doc_id % $evalMod = 0")},
          ${shingleCte("csh", contaminationN, s"doc_id % $evalMod <> 0")},
          en AS (SELECT doc_id, COUNT(*) AS n_grams FROM esh GROUP BY 1),
          m AS (
            SELECT e.doc_id, COUNT(*) AS n_matched
            FROM esh e JOIN (SELECT DISTINCT sh FROM csh) c ON c.sh = e.sh
            GROUP BY 1)
          SELECT en.doc_id AS eval_id, en.n_grams,
                 COALESCE(m.n_matched, 0) AS n_matched,
                 ROUND(COALESCE(m.n_matched, 0)::DOUBLE / en.n_grams, 6)
                   AS frac_contaminated
          FROM en LEFT JOIN m ON m.doc_id = en.doc_id
          ORDER BY eval_id""",
    // q90 shares q78's exact-restricted oracle: same increment-touching
    // pair semantics, different candidate structure (k-means cells vs
    // hyperplane buckets) — both must land on the exact answer
    "q90_dedup_semantic_incremental" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(${cosineExpr("a", "b")}, 6) AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${cosineExpr("a", "b")} >= $cosineThreshold
            AND (a.vec_id >= $corpusSplit OR b.vec_id >= $corpusSplit)
          ORDER BY id_a, id_b""",
    // the streamed semantic ingest must land on the identical
    // single-shot q90 answer
    "q100_dedup_ingest_stream_semantic" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(${cosineExpr("a", "b")}, 6) AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${cosineExpr("a", "b")} >= $cosineThreshold
            AND (a.vec_id >= $corpusSplit OR b.vec_id >= $corpusSplit)
          ORDER BY id_a, id_b""",
    // the streamed embedding ingest must land on the identical
    // single-shot q78 answer
    "q95_dedup_ingest_stream_embedding" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(${cosineExpr("a", "b")}, 6) AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${cosineExpr("a", "b")} >= $cosineThreshold
            AND (a.vec_id >= $corpusSplit OR b.vec_id >= $corpusSplit)
          ORDER BY id_a, id_b""",
    // exact cosine over the FULL embedding set, restricted to pairs with
    // at least one increment member — corpus-vs-corpus pairs excluded
    "q78_dedup_incremental_embedding" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(${cosineExpr("a", "b")}, 6) AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${cosineExpr("a", "b")} >= $cosineThreshold
            AND (a.vec_id >= $corpusSplit OR b.vec_id >= $corpusSplit)
          ORDER BY id_a, id_b"""
  )
}
