package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.operators.{Ann, Ivf}

/** Similarity-search query surface over `embeddings` (SURVEY §7.5):
  * exact brute-force cosine top-k plus BOTH approximate scale paths —
  * LSH-bucketed and IVF (inverted-file).
  *
  * q26/q27 carry the same exact-top-k oracle: the testdata's nearest
  * neighbors sit near the background cosine (the hyperplane worst
  * case), so q27 passes a few-planes/many-tables RECALL configuration
  * (planes=6, tables=24, radius-1 probe) explicitly at the query site;
  * on the gate's data this reproduces the exact top-k verbatim
  * (LshRecallSpec asserts lsh == exact on the same data and
  * parameters), and candidates are ranked by the same exact cosine
  * kernel. The operator's shipped defaults instead target realistic
  * cos ≥ 0.95 neighbors, where LSH prunes ~240× (see
  * [[graft.operators.Ann]]'s parameter math).
  *
  * q39 (IVF) carries a GENERATED oracle (the q96 pattern): its coarse
  * quantizer is LEARNED from the data (spherical k-means), so no
  * closed-form SQL twin exists — instead the staged centroids are
  * captured as SQL literals when the query runs, and DuckDB replays the
  * assignment/probe/cosine/rank arithmetic bit-exactly. The oracle
  * verifies the ALGORITHM against its learned state; recall vs exact
  * top-k on clustered data (the operating regime) stays pinned by
  * IvfSpec, including exact degeneration at nprobe = nlist.
  *
  * q46 is q39's DEPLOYMENT shape: the corpus written once as a
  * cell-partitioned parquet index ([[Ivf.writeIndex]], staged per source
  * state like EventQueries stages its stream input), searched through
  * [[Ivf.searchIndex]] so probes prune unprobed cell directories at the
  * file-listing level. Same quantizer parameters and seed as q39, so the
  * two must return identical rows — IvfSpec pins that equivalence and
  * the partition pruning.
  */
object AnnQueries extends QueryFamily {

  private val k = 5
  private val nQueries = 10 // query batch = vec_id < 10
  private val nlist = 16
  private val nprobe = 4
  // ONE constant feeds both the engine call sites (q93/q94 pass it
  // explicitly) and the generated oracles' shortlist arithmetic, so a
  // future change to Pq.searchIndex's default cannot silently
  // desynchronize oracle from engine (r9 advice)
  private val shortlistFactor = 4

  /** Build the persisted IVF index once per SOURCE STATE of
    * embeddings.parquet ([[Staging]] contract; `centroids/_SUCCESS` is
    * written last in [[Ivf.writeIndex]], making it the completion
    * marker).
    */
  private def stagedIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_ivf_index",
      Seq(s"$dir/embeddings.parquet"),
      s"$nlist:42", "centroids/_SUCCESS") { stage =>
      Ivf.writeIndex(table(s, dir, "embeddings"), stage,
        nlist = nlist, iters = 3, seed = 42L)
    }

  /** Build the persisted PQ index once per SOURCE STATE of
    * embeddings.parquet ([[Staging]] contract; `meta/_SUCCESS` — written
    * last in [[Pq.writeIndex]] — is the completion marker).
    */
  private def stagedPqIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_pq_index",
      Seq(s"$dir/embeddings.parquet"),
      "64:8:16:42", "meta/_SUCCESS") { stage =>
      graft.operators.Pq.writeIndex(table(s, dir, "embeddings"), stage,
        dim = 64, m = 8, ksub = 16, iters = 3, seed = 42L)
    }

  /** Build the persisted composed IVF+PQ index once per SOURCE STATE. */
  private def stagedIvfPqIndexDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_ivfpq_index",
      Seq(s"$dir/embeddings.parquet"),
      s"64:8:16:$nlist:42:v2", "meta/_SUCCESS") { stage =>
      graft.operators.Pq.writeIvfPqIndex(table(s, dir, "embeddings"), stage,
        dim = 64, m = 8, ksub = 16, nlist = nlist, iters = 3, seed = 42L)
    }

  /** q123's PCA model, staged per corpus state (train-once/project-many:
    * two treeAggregate passes + a driver-side 64×64 eigendecomposition —
    * repeated bench/verify runs must not retrain).
    */
  private def stagedPcaModelDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_pca_model",
      Seq(s"$dir/embeddings.parquet"),
      s"k$pcaK:v1", "meta/_SUCCESS") { stage =>
      graft.operators.Pca.save(s,
        graft.operators.Pca.train(table(s, dir, "embeddings"), k = pcaK), stage)
    }

  private val pcaK = 8

  override def stages: Map[String, (SparkSession, String) => String] = Map(
    "ivf_index" -> (stagedIndexDir _),
    "pq_index" -> (stagedPqIndexDir _),
    "ivfpq_index" -> (stagedIvfPqIndexDir _),
    "pca_model" -> (stagedPcaModelDir _))

  override def traits: Map[String, Set[QueryTrait]] = QueryTrait.of(
    QueryTrait.Heavy -> Seq("q26_ann_topk", "q27_ann_topk_lsh", "q39_ann_topk_ivf"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-vector INT8 scalar quantization (the FAISS SQ8 storage shape
    // beside q93's product quantization): code_i = round((x_i − min) /
    // (max − min) · 255) — 4× smaller embedding storage with the
    // codes' sum, position-weighted sum, and max reconstruction error
    // as the gate. All arithmetic is fixed-shape IEEE double over
    // float32 inputs (selections + one division chain), so the oracle
    // replays it bit-exactly; map-side per row, zero shuffle.
    // Constant vectors (max == min) code to 0 with zero error
    "q157_embedding_sq8" -> ((s, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      // min/max HOISTED to their own projection: referenced inside the
      // per-element lambdas below, the array_min/array_max expressions
      // would otherwise inline and re-scan the vector per element —
      // O(dim²) per row, measured 3.4 s vs 0.5 s at sf0.1
      val staged = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"),
          d(array_min(col("embedding"))).as("mn"),
          d(array_max(col("embedding"))).as("mx"))
      val mn = col("mn")
      val mx = col("mx")
      val codes = transform(col("v"), xx =>
        when(mx === mn, lit(0L))
          .otherwise(round((d(xx) - mn) / (mx - mn) * 255).cast("long")))
      staged
        .withColumn("codes", codes)
        .select(col("vec_id"),
          size(col("v")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), _ + _).as("code_sum"),
          aggregate(transform(col("codes"), (cc, i) => (i + 1).cast("long") * cc),
            lit(0L), _ + _).as("code_wsum"),
          round(mn, 6).as("vmin"), round(mx, 6).as("vmax"),
          round(array_max(zip_with(col("v"), col("codes"), (xx, cc) =>
            abs(d(xx) - (mn + cc * ((mx - mn) / 255))))), 6).as("max_err"))
        .orderBy("vec_id")
    }),

    // embedding dimensionality reduction ([[graft.operators.Pca]]):
    // project every corpus vector onto the staged top-k principal axes —
    // the SemDeDup-class preprocessing step in front of the semantic
    // cells (q87) and IVF quantizers. Projection is k codegen'd
    // dot-product kernels per row plus literal constants, zero shuffle;
    // the GENERATED oracle (q39 pattern) replays the staged components
    // as LIST_DOT_PRODUCT literals, verifying the projection algebra
    // bit-exactly (eigenvectors of floating sums are NOT cross-engine
    // reproducible — the staged literals are)
    "q123_embedding_pca" -> ((s, dir) => {
      val model = graft.operators.Pca.load(s, stagedPcaModelDir(s, dir))
      pcaOracle123 = Some(capturedOracle(pcaSql(model)))
      graft.operators.Pca.project(table(s, dir, "embeddings"), model)
        .orderBy("vec_id")
    }),
    "q26_ann_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < nQueries), k)
        .orderBy("query_id", "rank")
    }),

    "q27_ann_topk_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      // worst-case-angle demo config (see object doc): recall over
      // selectivity, because neighbors sit near the background cosine
      Ann.lshTopK(emb, emb.filter(col("vec_id") < nQueries), k,
          planes = 6, tables = 24, probeRadius = 1)
        .orderBy("query_id", "rank")
    }),

    // the oracle replays the centroids THIS query trained (not the staged
    // index's — distributed float aggregation does not promise two
    // trainings bit-identical across sessions, r9 advice): train once,
    // feed the same matrix to the search and the SQL literals
    "q39_ann_topk_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = Ivf.trainCentroids(emb, nlist = nlist, iters = 3, seed = 42L)
      ivfOracle39 = Some(capturedOracle(ivfSqlFromCents(centsValuesInMemory(cents))))
      Ivf.ivfTopKWithCentroids(emb, emb.filter(col("vec_id") < nQueries), k,
          cents, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // build-once/query-many: search the PERSISTED cell-partitioned index;
    // its oracle replays the STAGED centroids — the learned state this
    // query actually searches with (IvfSpec additionally pins q39/q46
    // row-identical and the partition pruning)
    "q46_ann_topk_ivf_index" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      ivfOracle46 = Some(capturedOracle(ivfSql(s, stagedIndexDir(s, dir))))
      Ivf.searchIndex(s, stagedIndexDir(s, dir),
          emb.filter(col("vec_id") < nQueries), k, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // PQ codes + ADC shortlist + exact re-rank against the persisted PQ
    // index: the corpus is scanned as m-byte CODE rows, floats join in
    // only for the shortlist. The oracle is GENERATED from the staged
    // codebooks (q96 pattern): DuckDB re-encodes the corpus, rebuilds the
    // ADC tables, and replays shortlist + re-rank bit-exactly — it
    // verifies THE ALGORITHM against its captured learned state, unlike
    // the r8 negative result which compared the approximate answer to an
    // exact-top-k oracle (brittle on this clusterless corpus; PqSpec
    // still proves exact equality with brute force on planted CLUSTERED
    // data, the operating regime).
    "q93_ann_topk_pq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      pqOracle = Some(capturedOracle(pqSql(s, stagedPqIndexDir(s, dir))))
      graft.operators.Pq.searchIndex(s, stagedPqIndexDir(s, dir),
          emb.filter(col("vec_id") < nQueries), k,
          shortlistFactor = shortlistFactor)
        .orderBy("query_id", "rank")
    }),

    // the COMPOSED IVF+PQ deployment shape: probed-cell partition
    // pruning over 32x-smaller code rows, ADC within probed cells, exact
    // re-rank. Generated oracle composes the q39 cell arithmetic with the
    // q93 code arithmetic (both learned states captured from the staged
    // index); PqSpec pins nprobe=nlist == flat PQ, clustered-recall, and
    // the partition-pruning plan shape
    "q94_ann_topk_ivfpq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      // ivfpqSql returns None for a residual-staged index (the oracle
      // covers raw coding only) — the query still RUNS and falls back to
      // the driver's rows-only check, rather than throwing before the
      // engine search (r9 advice)
      ivfpqOracle = Some(capturedOracle(ivfpqSql(s, stagedIvfPqIndexDir(s, dir))))
      graft.operators.Pq.searchIvfPqIndex(s, stagedIvfPqIndexDir(s, dir),
          emb.filter(col("vec_id") < nQueries), k, nprobe = nprobe,
          shortlistFactor = shortlistFactor)
        .orderBy("query_id", "rank")
    })
  )

  /** Generated oracles, captured from the staged learned state when the
    * query runs (the q96 pattern — see [[DedupQueries]]): the centroids /
    * codebooks the engine actually searched with become SQL literals, and
    * the assignment, probe, ADC, and ranking arithmetic is then pure
    * double-precision computation DuckDB replays bit-exactly. A
    * restricted dev dump that skips these queries falls back to the
    * driver's rows-only check.
    */
  @volatile private var ivfOracle39: Option[() => String] = None
  @volatile private var pcaOracle123: Option[() => String] = None

  /** q123's generated oracle: staged float components as exact double
    * literals, per-component constant folded in, 6-dp round — the
    * LIST_DOT_PRODUCT fold is the dot kernel's (sequential double
    * accumulation), the equality the cosine family already pins.
    */
  private def pcaSql(model: graft.operators.Pca.Model): String = {
    val dlit = HashOracleSql.dlit _
    val cols = model.components.zipWithIndex.map { case (c, j) =>
      val arr = c.map(x => dlit(x.toDouble)).mkString(", ")
      s"ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), [$arr]) - ${dlit(model.meanConsts(j))}, 6) AS p$j"
    }.mkString(",\n             ")
    s"""SELECT vec_id,
             $cols
        FROM embeddings ORDER BY vec_id"""
  }
  @volatile private var ivfOracle46: Option[() => String] = None
  @volatile private var pqOracle: Option[() => String] = None
  @volatile private var ivfpqOracle: Option[() => Option[String]] = None

  import HashOracleSql.vlit

  /** `cents(cell, c)` VALUES rows from a persisted centroid frame. */
  private def centsValues(s: SparkSession, path: String): String =
    s.read.parquet(path).orderBy("cell").collect()
      .map(r => s"(${r.getInt(0)}, ${vlit(r.getSeq[Float](1).toArray)})")
      .mkString(",\n          ")

  /** `cents(cell, c)` VALUES rows from an in-memory centroid matrix (the
    * q39 path: the exact floats the query trained, no staged round-trip).
    */
  private def centsValuesInMemory(cents: Array[Array[Float]]): String =
    cents.zipWithIndex
      .map { case (c, i) => s"($i, ${vlit(c)})" }
      .mkString(",\n          ")

  /** Shared CTE prefix replaying the coarse quantizer: corpus cell
    * assignment (argmax dot, ties to the lower cell — the
    * [[graft.functions.expr.IvfOps]] contract) and each query's `np`
    * probe cells, from centroid literals. `queryPred` selects the query
    * rows (default: the q26-family fixed batch).
    */
  private def cellCtes(cents: String,
      queryPred: String = s"vec_id < $nQueries",
      np: Int = nprobe): String =
    s"""cents(cell, c) AS (VALUES $cents),
        cellscore AS (
          SELECT e.vec_id, t.cell,
                 LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), t.c) AS s
          FROM embeddings e CROSS JOIN cents t),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
            FROM cellscore) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
            FROM cellscore WHERE $queryPred) WHERE rn <= $np)"""

  /** Final ranking tail shared by all generated oracles: rank a
    * `scored(query_id, neighbor_id, cos)` CTE by (cos DESC, neighbor_id),
    * keep top-kk, round at projection — [[graft.operators.TopK]] verbatim.
    */
  private def rankTail(kk: Int = k): String =
    s"""ranked AS (
          SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
               ROUND(cos, 6) AS cosine
        FROM ranked WHERE rank <= $kk
        ORDER BY query_id, rank"""

  private def ivfSql(s: SparkSession, idx: String): String =
    ivfSqlFromCents(centsValues(s, s"$idx/centroids"))

  private def ivfSqlFromCents(cents: String): String =
    s"""WITH ${cellCtes(cents)},
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id, ${cosineExpr("q", "e")} AS cos
          FROM probes p
          JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
          JOIN embeddings q ON q.vec_id = p.query_id
          JOIN embeddings e ON e.vec_id = a.vec_id),
        ${rankTail()}"""

  /** `books(j, k, c)` VALUES rows from a persisted PQ codebook frame. */
  private def booksValues(s: SparkSession, path: String): String =
    s.read.parquet(path).orderBy("j", "k").collect()
      .map(r => s"(${r.getInt(0)}, ${r.getInt(1)}, ${vlit(r.getSeq[Float](2).toArray)})")
      .mkString(",\n          ")

  /** PQ arithmetic CTEs from codebook literals, replaying
    * [[graft.functions.expr.PqOps]] term by term. The kernels accumulate
    * ELEMENT-SEQUENTIALLY (`d += diff*diff`, `s += q[i]*c[i]`), so the
    * SQL uses explicit left-associative term chains over array elements —
    * NOT a dot-product expansion, whose fold order would differ.
    * Yields `codes(vec_id, j, code)` (argmin L2, ties to the lower code)
    * and `adct(query_id, j, k, ip)` (the per-query ADC table; `queryPred`
    * selects the query rows, alias `qv`).
    */
  private def pqCtes(books: String, dsub: Int,
      queryPred: String = s"qv.vec_id < $nQueries"): String = {
    val d2Chain = (0 until dsub).map { d =>
      val diff = s"(CAST(e.embedding[b.j*$dsub + ${d + 1}] AS DOUBLE) - b.c[${d + 1}])"
      s"$diff * $diff"
    }.mkString("\n                 + ")
    val ipChain = (0 until dsub).map { d =>
      s"CAST(qv.embedding[b.j*$dsub + ${d + 1}] AS DOUBLE) * b.c[${d + 1}]"
    }.mkString("\n                 + ")
    s"""books(j, k, c) AS (VALUES $books),
        encd AS (
          SELECT e.vec_id, b.j, b.k,
                 $d2Chain AS d2
          FROM embeddings e CROSS JOIN books b),
        codes AS (
          SELECT vec_id, j, k AS code FROM (
            SELECT vec_id, j, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, k) AS rn
            FROM encd) WHERE rn = 1),
        adct AS (
          SELECT qv.vec_id AS query_id, b.j, b.k,
                 $ipChain AS ip
          FROM embeddings qv CROSS JOIN books b
          WHERE $queryPred)"""
  }

  /** ADC score + shortlist + exact re-rank tail over a `cand(query_id,
    * neighbor_id, j, ip)` relation: per-pair ADC sum in subspace order
    * (the [[graft.functions.expr.PqOps.adcScore]] j-ascending fold),
    * shortlist by (adc DESC, neighbor_id), exact cosine on the shortlist.
    */
  private def adcTail(m: Int, shortlist: Int, kk: Int = k): String = {
    val sumChain = (1 to m).map(i => s"ips[$i]").mkString(" + ")
    s"""adcs AS (
          SELECT query_id, neighbor_id, $sumChain AS adc FROM (
            SELECT query_id, neighbor_id, ARRAY_AGG(ip ORDER BY j) AS ips
            FROM cand GROUP BY query_id, neighbor_id)),
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc DESC, neighbor_id) AS rn
            FROM adcs) WHERE rn <= $shortlist),
        scored AS (
          SELECT s.query_id, s.neighbor_id, ${cosineExpr("q", "e")} AS cos
          FROM short s
          JOIN embeddings q ON q.vec_id = s.query_id
          JOIN embeddings e ON e.vec_id = s.neighbor_id),
        ${rankTail(kk)}"""
  }

  private def pqSql(s: SparkSession, idx: String): String = {
    val meta = s.read.parquet(s"$idx/meta").head()
    val m = meta.getAs[Int]("m")
    val dsub = meta.getAs[Int]("dim") / m
    s"""WITH ${pqCtes(booksValues(s, s"$idx/books"), dsub)},
        cand AS (
          SELECT t.query_id, c.vec_id AS neighbor_id, t.j, t.ip
          FROM codes c JOIN adct t ON t.j = c.j AND t.k = c.code
          WHERE c.vec_id <> t.query_id),
        ${adcTail(m, shortlistFactor * k)}"""
  }

  /** IVF+PQ (raw coding, the staged q94 variant): q39's cell CTEs
    * restrict q93's candidate pairs to (neighbor cell ∈ query's probes).
    * Returns None for a residual-staged index — the replay below encodes
    * raw vectors, so emitting it would produce a FALSE failure; the query
    * then falls back to the driver's rows-only check (r9 advice).
    */
  private def ivfpqSql(s: SparkSession, idx: String): Option[String] = {
    val meta = s.read.parquet(s"$idx/meta").head()
    if (meta.getAs[Boolean]("by_residual")) None
    else {
      val m = meta.getAs[Int]("m")
      val dsub = meta.getAs[Int]("dim") / m
      Some(s"""WITH ${cellCtes(centsValues(s, s"$idx/centroids"))},
        ${pqCtes(booksValues(s, s"$idx/books"), dsub)},
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id, t.j, t.ip
          FROM probes p
          JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN adct t ON t.query_id = p.query_id AND t.j = c.j AND t.k = c.code),
        ${adcTail(m, shortlistFactor * k)}""")
    }
  }

  /** Generated oracle for the STREAMING ANN ingest (q102): replay every
    * micro-batch's search in one statement. `memb` is the (vec_id →
    * batch) assignment the stream's own file-source log recorded; a
    * query in batch b sees corpus rows (vec_id < corpusSplit) plus feed
    * rows committed in batches < b — exactly the search-first/
    * append-second prefix contract of
    * [[graft.streaming.AnnIngestStream]]. Appended codes are recomputed
    * from the same codebook literals the engine's append used (encode is
    * deterministic, quantizers never retrain on append), so one `codes`
    * CTE covers corpus and feed alike. Raw-coding indexes only (None for
    * residual — the q94 rule); self/own-batch exclusion is subsumed by
    * the prefix restriction.
    */
  private[queries] def ivfpqIngestSql(
      s: SparkSession, idx: String, memb: Seq[(Long, Long)],
      corpusSplit: Long, kk: Int, np: Int,
      shortlistFac: Int = shortlistFactor): Option[String] = {
    val meta = s.read.parquet(s"$idx/meta").head()
    if (meta.getAs[Boolean]("by_residual")) None
    else {
      val m = meta.getAs[Int]("m")
      val dsub = meta.getAs[Int]("dim") / m
      val membVals = memb.sorted
        .map { case (v, b) => s"($v, $b)" }.mkString(",\n          ")
      val queryPred = "vec_id IN (SELECT vec_id FROM memb)"
      Some(s"""WITH memb(vec_id, batch) AS (VALUES $membVals),
        ${cellCtes(centsValues(s, s"$idx/centroids"), queryPred, np)},
        ${pqCtes(booksValues(s, s"$idx/books"), dsub, s"qv.$queryPred")},
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id, t.j, t.ip
          FROM probes p
          JOIN memb qm ON qm.vec_id = p.query_id
          JOIN assign a ON a.cell = p.cell
          LEFT JOIN memb nm ON nm.vec_id = a.vec_id
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN adct t ON t.query_id = p.query_id AND t.j = c.j AND t.k = c.code
          WHERE a.vec_id < $corpusSplit OR nm.batch < qm.batch),
        ${adcTail(m, shortlistFac * kk, kk)}""")
    }
  }

  /** Cosine with the kernel's zero-norm guard: VectorOps.cosine returns
    * 0.0 for a zero vector where bare SQL division would yield NULL/NaN
    * (r9 advice — the guard keeps the oracle honest if testdata ever
    * grows a zero embedding; today's rows are all nonzero).
    */
  private def cosineExpr(a: String, b: String): String = {
    def n2(x: String) =
      s"LIST_DOT_PRODUCT(CAST($x.embedding AS DOUBLE[]), CAST($x.embedding AS DOUBLE[]))"
    s"""CASE WHEN ${n2(a)} = 0 OR ${n2(b)} = 0 THEN 0.0
        ELSE LIST_DOT_PRODUCT(CAST($a.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[]))
             / (SQRT(${n2(a)}) * SQRT(${n2(b)})) END"""
  }

  private val topkSql: String =
      s"""WITH scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ${cosineExpr("q", "e")} AS cos
            FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
            WHERE q.vec_id < $nQueries),
          ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
                 ROUND(cos, 6) AS cosine
          FROM ranked WHERE rank <= $k
          ORDER BY query_id, rank"""

  def oracleSql: Map[String, String] =
    ivfOracle39.map(f => "q39_ann_topk_ivf" -> f()).toMap ++
    pcaOracle123.map(f => "q123_embedding_pca" -> f()).toMap ++
    ivfOracle46.map(f => "q46_ann_topk_ivf_index" -> f()).toMap ++
    pqOracle.map(f => "q93_ann_topk_pq" -> f()).toMap ++
    ivfpqOracle.flatMap(f => f()).map("q94_ann_topk_ivfpq" -> _).toMap ++ Map(
    "q26_ann_topk" -> topkSql,
    "q27_ann_topk_lsh" -> topkSql,
    // identical fixed-shape double chain over per-(vec, dim) rows
    "q157_embedding_sq8" ->
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         dims AS (
           SELECT vec_id, i, CAST(v[i] AS DOUBLE) AS x
           FROM e, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(v))) AS i) u),
         st AS (SELECT vec_id, MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS nd
                FROM dims GROUP BY 1),
         c AS (
           SELECT d.vec_id, d.i, d.x, st.mn, st.mx, st.nd,
                  CASE WHEN st.mx = st.mn THEN 0
                       ELSE CAST(ROUND((d.x - st.mn) / (st.mx - st.mn) * 255) AS BIGINT)
                  END AS code
           FROM dims d JOIN st USING (vec_id))
         SELECT vec_id, CAST(MAX(nd) AS BIGINT) AS n_dims,
                CAST(SUM(code) AS BIGINT) AS code_sum,
                CAST(SUM(i * code) AS BIGINT) AS code_wsum,
                ROUND(MAX(mn), 6) AS vmin, ROUND(MAX(mx), 6) AS vmax,
                ROUND(MAX(ABS(x - (mn + code * ((mx - mn) / 255)))), 6) AS max_err
         FROM c GROUP BY vec_id ORDER BY vec_id"""
  )
}
