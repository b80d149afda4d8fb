package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Pq

/** [[AnnIngestStream]] — per-batch output equals a single-shot
  * [[Pq.searchIvfPqIndex]] against the hand-appended prefix index, and a
  * later batch finds an earlier batch's vector (and NOT vice versa — the
  * no-future-leakage direction); the crash-replay and compaction cases
  * come from [[IngestReplayMatrix]], whose single-shot reference is the
  * hand-appended prefix search.
  */
class AnnIngestStreamSpec extends IngestReplayMatrix("match", ("code", "vector")) {
  import spark.implicits._

  private val dim = 64
  private val k = 3
  private val nprobe = 4

  /** Unit vector at angle `t` in the (e{2p}, e{2p+1}) plane. */
  private def a(plane: Int, t: Double): Seq[Float] = {
    val v = new Array[Float](dim)
    v(2 * plane) = math.cos(t).toFloat
    v(2 * plane + 1) = math.sin(t).toFloat
    v.toSeq
  }

  private def axis(i: Int): Seq[Float] = {
    val v = new Array[Float](dim); v(i) = 1f; v.toSeq
  }

  protected val feedSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  // two 9-vector clusters (planes 0 and 1) + 2 background axes = 20
  // corpus vectors, enough to train ksub=8 codebooks; cluster spread
  // 0.02 rad so in-cluster cosines (~0.999+) dominate cross-cluster (0)
  private lazy val corpus = (
    (0 until 9).map(i => (i.toLong, a(0, 0.02 * i))) ++
      (0 until 9).map(i => (10L + i, a(1, 0.02 * i))) ++
      Seq((20L, axis(40)), (21L, axis(42)))
  ).toDF("vec_id", "embedding")

  // batch 0: near cluster A; batch 1: near cluster B; batch 2: angle
  // 0.015 in plane 0 — closer to batch 0's vector 100 (d=0.005 rad) than
  // to any corpus vector (d>=0.005 vs 0.02-grid... nearest corpus 0.005
  // too at i=1? 0.02*1=0.02 -> d=0.005; tie-ish), so push 100 closer:
  private val b0 = Seq((100L, a(0, 0.014)))
  private val b1 = Seq((101L, a(1, 0.011)))
  private val b2 = Seq((102L, a(0, 0.015))) // cos(0.001) to 100 — its top-1
  private val feed = Seq(b0, b1, b2)
  // the matrix's batch 0 carries a second vector, 104 at 0.034: on a
  // post-commit replay it sits in the index within 100's top-3, so only
  // the own-id exclusion keeps the replayed output identical. Its 4th
  // batch lands back in cluster B, after the first mid-stream compaction
  private val b3 = Seq((103L, a(1, 0.013)))

  protected def freshIndex(): String = {
    val dir = tmp("idx")
    Pq.writeIvfPqIndex(corpus, dir, dim = dim, m = 8, ksub = 8, nlist = 4,
      iters = 3, seed = 42L)
    dir
  }

  private def search(dir: String, q: DataFrame): DataFrame =
    Pq.searchIvfPqIndex(spark, dir, q, k, nprobe = nprobe,
      excludeIds = Some(q.select("vec_id")))

  protected lazy val batches: Seq[DataFrame] =
    Seq(b0 :+ ((104L, a(0, 0.034))), b1, b2, b3).map(_.toDF("vec_id", "embedding"))
  protected def kernel(indexDir: String) =
    Pq.ivfPqIngestKernel(spark, indexDir, "vec_id", "embedding", k, nprobe)
  protected def ingest(feedDir: String, indexDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int): DataFrame =
    AnnIngestStream.ingest(spark, feedDir, feedSchema, indexDir, outDir,
      checkpointDir, k = k, nprobe = nprobe, maxFilesPerTrigger = Some(1),
      compactEvery = compactEvery)
  /** Batch i searched against corpus + hand-appended batches 0..i-1. */
  protected def singleShot(n: Int): Set[Seq[Any]] = {
    val handIdx = freshIndex()
    batches.take(n).zipWithIndex.flatMap { case (b, i) =>
      val got = rowSet(search(handIdx, b))
      Pq.appendToIvfPqIndex(b, handIdx, seg = Some(s"hand-$i"))
      got
    }.toSet
  }
  protected def probeLater(indexDir: String): Set[Seq[Any]] =
    rowSet(search(indexDir, Seq((200L, a(0, 0.016))).toDF("vec_id", "embedding")))
  protected val laterHit = 102L
  // batch 2's 102 and batch 3's 103 find their cluster's earlier batch
  // vector (100, 101) through the compacted segment
  protected val compactedHits = Set((102L, 100L), (103L, 101L))
  protected val hitColumns = ("query_id", "neighbor_id")

  test("per-batch stream output == single-shot search on the hand-appended prefix") {
    val streamIdx = freshIndex()
    val handIdx = freshIndex()
    val feedDir = tmp("feed")
    val outDir = tmp("out")
    feed.foreach { b =>
      b.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    AnnIngestStream.ingest(spark, feedDir, feedSchema, streamIdx, outDir,
      tmp("ckpt"), k = k, nprobe = nprobe, maxFilesPerTrigger = Some(1))
    feed.zipWithIndex.foreach { case (b, i) =>
      val bdf = b.toDF("vec_id", "embedding")
      val expected = rowSet(search(handIdx, bdf))
      val got = rowSet(spark.read.parquet(s"$outDir/batch=$i"))
      assert(got === expected, s"batch $i diverged from single-shot search")
      Pq.appendToIvfPqIndex(bdf, handIdx, seg = Some(s"hand-$i"))
    }
  }

  test("later batch finds the earlier batch's vector; no future leakage") {
    val indexDir = freshIndex()
    val outDir = tmp("out")
    val ann = kernel(indexDir)
    feed.zipWithIndex.foreach { case (b, i) =>
      IndexIngest.ingestBatch(ann, b.toDF("vec_id", "embedding"), i.toLong, outDir,
        compactEvery = 0)
    }
    val byBatch = (0 until 3).map(i =>
      spark.read.parquet(s"$outDir/batch=$i")
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    // batch 2's query 102 ranks batch 0's 100 first — only reachable
    // through the batch-0 append
    assert(byBatch(2).contains((102L, 100L, 1L)),
      s"102 should top-rank 100, got ${byBatch(2).toSeq}")
    // batch 0 ran before 102 existed: nothing from the future
    assert(!byBatch(0).exists(_._2 == 102L), "batch 0 saw a future vector")
    assert(!byBatch(0).exists(_._2 == 101L), "batch 0 saw a future vector")
  }

  test("job budget: the 3-batch compacting drain stays within the pinned job count") {
    val indexDir = freshIndex()
    val feedDir = tmp("feed")
    feed.foreach { b =>
      b.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val jobs = JobBudget.count(spark) {
      AnnIngestStream.ingest(spark, feedDir, feedSchema, indexDir, tmp("out"),
        tmp("ckpt"), k = k, nprobe = nprobe, maxFilesPerTrigger = Some(1),
        compactEvery = 2)
        .collect()
      ()
    }
    info(s"ann ingest drain jobs = $jobs")
    // measured 63 on two consecutive runs (stable); budget = measured
    // + 6 == the "+2 jobs/batch over 3 batches" drift bound
    assert(jobs <= 69, s"per-batch job overhead crept: $jobs jobs for a 3-batch drain (budget 69)")
  }
}
