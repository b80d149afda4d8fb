package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Dedup
import graft.sources.Segments

/** [[SemanticIngestStream]] — drained == single-shot probe, the
  * cross-batch pair planted across batches 1 and 3 is caught, and the
  * index grows; the crash-replay and compaction cases come from
  * [[IngestReplayMatrix]].
  */
class SemanticIngestStreamSpec
    extends IngestReplayMatrix("pair", ("assignment", "vector")) {
  import spark.implicits._

  private val dim = 64

  /** Unit vector at angle `t` in the (e0, e1) plane. */
  private def a(t: Double): Array[Float] = {
    val v = new Array[Float](dim)
    v(0) = math.cos(t).toFloat
    v(1) = math.sin(t).toFloat
    v
  }

  private def axis(i: Int): Array[Float] = {
    val v = new Array[Float](dim)
    v(i) = 1f
    v
  }

  protected val feedSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  // corpus: a cluster near angle 0 (for the quantizer to find) plus two
  // orthogonal background cells; increment plants the same chain as the
  // embedding-stream spec: 100 at 0.2 (cos .980 vs 0), 102 at 0.4
  // (cos .980 vs 100, .921 vs 0 — below .95): (100, 102) exists only
  // through batch 1's appended rows, and it spans batches 1 and 3.
  private lazy val corpus = Seq(
    (0L, a(0.0).toSeq), (1L, axis(5).toSeq), (2L, axis(7).toSeq),
    (3L, a(0.05).toSeq)).toDF("vec_id", "embedding")

  private val inc = Seq(
    (100L, a(0.2).toSeq), (101L, axis(9).toSeq), (102L, a(0.4).toSeq))
  // the matrix's 4th batch extends the chain (cos .980 vs 102)
  private val inc4 = inc :+ ((103L, a(0.6).toSeq))

  protected def freshIndex(): String = {
    val dir = tmp("idx")
    // nassign=2 gives boundary vectors two cells — enough for the
    // planted angle chain to cohabit with its neighbors
    Dedup.writeSemanticIndex(corpus, dir, nlist = 4, nassign = 2)
    dir
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  protected lazy val batches: Seq[DataFrame] =
    inc4.map(v => Seq(v).toDF("vec_id", "embedding"))
  protected def kernel(indexDir: String) =
    Dedup.semanticIngestKernel(indexDir, "vec_id", "embedding", threshold = 0.95)
  protected def ingest(feedDir: String, indexDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int): DataFrame =
    SemanticIngestStream.ingest(spark, feedDir, feedSchema, indexDir, outDir,
      checkpointDir, threshold = 0.95, maxFilesPerTrigger = Some(1),
      compactEvery = compactEvery)
  protected def singleShot(n: Int): Set[Seq[Any]] =
    rowSet(Dedup.incrementalSemanticNearDupPairs(
      spark, freshIndex(), inc4.take(n).toDF("vec_id", "embedding"), threshold = 0.95))
  protected def probeLater(indexDir: String): Set[Seq[Any]] =
    rowSet(Dedup.incrementalSemanticNearDupPairs(spark, indexDir,
      Seq((200L, a(0.7).toSeq)).toDF("vec_id", "embedding"), threshold = 0.95))
  protected val laterHit = 103L
  // batch 2's 102 pairs with 100 through the compacted segment, batch 3's
  // 103 with 102 in the segment written after it
  protected val compactedHits = Set((100L, 102L), (102L, 103L))
  protected val hitColumns = ("id_a", "id_b")

  test("3-batch drain == single-shot probe; cross-batch pair; index grows; compaction") {
    val indexDir = freshIndex()
    val feedDir = tmp("feed")
    inc.foreach { v =>
      Seq(v).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val streamed = SemanticIngestStream.ingest(
      spark, feedDir, feedSchema, indexDir, tmp("out"), tmp("ckpt"),
      threshold = 0.95, maxFilesPerTrigger = Some(1), compactEvery = 2)
    assert(rowSet(streamed) === reference(3))
    val got = pairSet(streamed)
    assert(got.contains((100L, 102L)),
      s"cross-batch pair (100,102) missing — batch 3 did not see batch 1's append: $got")
    assert(got.contains((0L, 100L)), s"inc-vs-corpus pair missing: $got")
    // compactEvery=2 fired at least once mid-stream and probes stayed
    // correct (the drain above); segment count is bounded
    assert(Segments.liveSegs(spark, indexDir).size < 3,
      s"compaction did not bound segments: ${Segments.liveSegs(spark, indexDir)}")
    // index grew: a later increment pairs with a stream-ingested vector
    val second = Dedup.incrementalSemanticNearDupPairs(
      spark, indexDir, Seq((200L, a(0.5).toSeq)).toDF("vec_id", "embedding"),
      threshold = 0.95)
    assert(pairSet(second).contains((102L, 200L)),
      s"index did not grow with the ingested batches: ${pairSet(second)}")
  }

  test("job budget: the 3-batch compacting drain stays within the pinned job count") {
    val indexDir = freshIndex()
    val feedDir = tmp("feed")
    inc.foreach { v =>
      Seq(v).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val jobs = JobBudget.count(spark) {
      SemanticIngestStream.ingest(
        spark, feedDir, feedSchema, indexDir, tmp("out"), tmp("ckpt"),
        threshold = 0.95, maxFilesPerTrigger = Some(1), compactEvery = 2)
        .collect()
      ()
    }
    info(s"semantic ingest drain jobs = $jobs")
    // measured 62 on two consecutive runs (stable); budget = measured
    // + 6 == the "+2 jobs/batch over 3 batches" drift bound
    assert(jobs <= 68, s"per-batch job overhead crept: $jobs jobs for a 3-batch drain (budget 68)")
  }
}
