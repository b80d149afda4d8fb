package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Dedup

/** [[EmbeddingIngestStream]] — drained == single-shot probe, the
  * cross-batch pair planted across batches 1 and 3 is caught, and the
  * index grows; the crash-replay and compaction cases come from
  * [[IngestReplayMatrix]].
  */
class EmbeddingIngestStreamSpec
    extends IngestReplayMatrix("pair", ("bucket", "vector")) {
  import spark.implicits._

  private val dim = 64

  /** Unit vector at angle `t` in the (e0, e1) plane — cosine between two
    * of these is cos(t1 - t2), so near-dup chains are planted by angle.
    */
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

  // corpus 0 at angle 0; increment 100 at 0.2 (cos .980 vs 0) and 102 at
  // 0.4 (cos .980 vs 100, but .921 vs 0 — BELOW the .95 threshold): the
  // (100, 102) pair exists only through the chain, and it spans batches
  // 1 and 3. 1/101 are orthogonal background.
  private lazy val corpus = Seq(
    (0L, a(0.0).toSeq), (1L, axis(5).toSeq)).toDF("vec_id", "embedding")

  private val inc = Seq(
    (100L, a(0.2).toSeq), (101L, axis(7).toSeq), (102L, a(0.4).toSeq))
  // the matrix's 4th batch extends the chain (cos .980 vs 102)
  private val inc4 = inc :+ ((103L, a(0.6).toSeq))

  protected def freshIndex(): String = {
    val dir = tmp("idx")
    Dedup.writeEmbeddingIndex(corpus, dir)
    dir
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  protected lazy val batches: Seq[DataFrame] =
    inc4.map(v => Seq(v).toDF("vec_id", "embedding"))
  protected def kernel(indexDir: String) =
    Dedup.embeddingIngestKernel(indexDir, "vec_id", "embedding", threshold = 0.95)
  protected def ingest(feedDir: String, indexDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int): DataFrame =
    EmbeddingIngestStream.ingest(spark, feedDir, feedSchema, indexDir, outDir,
      checkpointDir, threshold = 0.95, maxFilesPerTrigger = Some(1),
      compactEvery = compactEvery)
  protected def singleShot(n: Int): Set[Seq[Any]] =
    rowSet(Dedup.incrementalEmbeddingNearDupPairs(
      spark, freshIndex(), inc4.take(n).toDF("vec_id", "embedding"), threshold = 0.95))
  protected def probeLater(indexDir: String): Set[Seq[Any]] =
    rowSet(Dedup.incrementalEmbeddingNearDupPairs(spark, indexDir,
      Seq((200L, a(0.7).toSeq)).toDF("vec_id", "embedding"), threshold = 0.95))
  protected val laterHit = 103L
  // batch 2's 102 pairs with 100 through the compacted segment, batch 3's
  // 103 with 102 in the segment written after it
  protected val compactedHits = Set((100L, 102L), (102L, 103L))
  protected val hitColumns = ("id_a", "id_b")

  test("3-batch drain == single-shot probe; cross-batch pair; index grows") {
    val indexDir = freshIndex()
    val feedDir = tmp("feed")
    inc.foreach { v =>
      Seq(v).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val streamed = EmbeddingIngestStream.ingest(
      spark, feedDir, feedSchema, indexDir, tmp("out"), tmp("ckpt"),
      threshold = 0.95, maxFilesPerTrigger = Some(1))
    assert(rowSet(streamed) === reference(3))
    val got = pairSet(streamed)
    assert(got === Set((0L, 100L), (100L, 102L)),
      s"expected exactly the planted chain pairs, got $got")
    // (100, 102) spans batches 1 and 3 — only the batch-3 probe against
    // batch-1's APPENDED rows can form it
    // index grew: a later increment pairs with a stream-ingested vector
    val second = Dedup.incrementalEmbeddingNearDupPairs(
      spark, indexDir, Seq((200L, a(0.5).toSeq)).toDF("vec_id", "embedding"),
      threshold = 0.95)
    assert(pairSet(second).contains((102L, 200L)),
      s"index did not grow with the ingested batches: ${pairSet(second)}")
  }

  test("job budget: the 3-batch drain stays within the pinned job count") {
    val indexDir = freshIndex()
    val feedDir = tmp("feed")
    inc.foreach { v =>
      Seq(v).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val jobs = JobBudget.count(spark) {
      EmbeddingIngestStream.ingest(
        spark, feedDir, feedSchema, indexDir, tmp("out"), tmp("ckpt"),
        threshold = 0.95, maxFilesPerTrigger = Some(1), compactEvery = 2)
        .collect()
      ()
    }
    info(s"embedding ingest drain jobs = $jobs")
    // measured 61 on two consecutive runs (stable); budget = measured
    // + 6 == the "+2 jobs/batch over 3 batches" drift bound
    assert(jobs <= 67, s"per-batch job overhead crept: $jobs jobs for a 3-batch drain (budget 67)")
  }
}
