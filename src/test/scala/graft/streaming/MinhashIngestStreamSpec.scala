package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** [[MinhashIngestStream]] — the streamed ingest must equal the
  * single-shot probe (batch boundaries invisible), catch pairs planted
  * ACROSS micro-batches, and leave the index genuinely grown (a later
  * increment probes against what the stream appended); the crash-replay
  * and compaction cases come from [[IngestReplayMatrix]].
  */
class MinhashIngestStreamSpec extends IngestReplayMatrix("pair", ("bucket", "set")) {
  import spark.implicits._

  protected val feedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"

  // corpus doc 0 and increment docs 100/102 are a near-dup chain built by
  // APPENDING one word per step (J = |shared|/|larger| ≈ 0.91-0.95 at
  // 3-shingles, all >= 0.8); 1 and 101 are unrelated background
  private lazy val corpus = Seq(
    (0L, base),
    (1L, "totally different subject matter about cooking pasta with fresh " +
      "tomato sauce basil leaves and olive oil for dinner tonight")
  ).toDF("doc_id", "text")

  private val inc = Seq(
    (100L, s"$base extra1"),
    (101L, "another unrelated document describing mountain hiking trails " +
      "weather conditions and camping equipment for the summer season"),
    (102L, s"$base extra1 extra2"))
  // the matrix's 4th batch extends the chain, so its probe (after the
  // first mid-stream compaction) pairs with batch 2's 102
  private val inc4 = inc :+ (103L, s"$base extra1 extra2 extra3")

  protected def freshIndex(): String = {
    val dir = tmp("idx")
    Dedup.writeMinhashIndex(corpus, dir)
    dir
  }

  protected lazy val batches: Seq[DataFrame] = inc4.map(d => Seq(d).toDF("doc_id", "text"))
  protected def kernel(indexDir: String) =
    Dedup.minhashIngestKernel(indexDir, "doc_id", "text", threshold = 0.8)
  protected def ingest(feedDir: String, indexDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int): DataFrame =
    MinhashIngestStream.ingest(spark, feedDir, feedSchema, indexDir, outDir,
      checkpointDir, threshold = 0.8, maxFilesPerTrigger = Some(1),
      compactEvery = compactEvery)
  protected def singleShot(n: Int): Set[Seq[Any]] =
    rowSet(Dedup.incrementalNearDupPairs(
      spark, freshIndex(), inc4.take(n).toDF("doc_id", "text"), threshold = 0.8))
  protected def probeLater(indexDir: String): Set[Seq[Any]] =
    rowSet(Dedup.incrementalNearDupPairs(spark, indexDir,
      Seq((200L, s"$base extra1 extra2 extra3 extra4")).toDF("doc_id", "text"),
      threshold = 0.8))
  protected val laterHit = 103L
  // batch 2's 102 pairs with 100 through the compacted segment, batch 3's
  // 103 with 102 in the segment written after it
  protected val compactedHits = Set((100L, 102L), (102L, 103L))
  protected val hitColumns = ("id_a", "id_b")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("3-batch drain == single-shot probe; cross-batch pair caught; index grows") {
    val indexDir = freshIndex()
    // feed: one file per APPEND write => one doc per micro-batch, with
    // the 100/102 near-dup pair split across batches 1 and 3
    val feedDir = tmp("feed")
    inc.foreach { doc =>
      Seq(doc).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val streamed = MinhashIngestStream.ingest(
      spark, feedDir, feedSchema, indexDir, tmp("out"), tmp("ckpt"),
      threshold = 0.8, maxFilesPerTrigger = Some(1))
    assert(rowSet(streamed) === reference(3))
    val got = pairSet(streamed)
    assert(got.contains((100L, 102L)),
      s"cross-batch near-dup pair must be caught: $got")
    assert(got.contains((0L, 100L)), s"corpus-vs-increment pair missing: $got")
    assert(!got.contains((0L, 1L)), "corpus-vs-corpus pair must never surface")
    // the stream appended its batches: a SECOND increment's probe against
    // the mutated index pairs with a doc the STREAM ingested (102), which
    // the original corpus index never contained
    val second = Dedup.incrementalNearDupPairs(
      spark, indexDir, Seq((200L, s"$base extra1 extra2 extra3")).toDF("doc_id", "text"),
      threshold = 0.8)
    assert(pairSet(second).contains((102L, 200L)),
      s"index did not grow with the ingested batches: ${pairSet(second)}")
  }

  test("job budget: the 3-batch compacting drain stays within the pinned job count") {
    // structural guard on per-batch overhead (r11 verdict: wall-clock
    // targets flap with load; the job count does not): budget = the
    // measured count of the current implementation + headroom for < 2
    // jobs/batch of drift. A failure here means per-batch work crept
    // back in (a reintroduced driver job, a doubled probe pass).
    val indexDir = freshIndex()
    val feedDir = tmp("feed")
    inc.foreach { doc =>
      Seq(doc).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val jobs = JobBudget.count(spark) {
      MinhashIngestStream.ingest(
        spark, feedDir, feedSchema, indexDir, tmp("out"), tmp("ckpt"),
        threshold = 0.8, maxFilesPerTrigger = Some(1), compactEvery = 2)
        .collect()
      ()
    }
    info(s"minhash ingest drain jobs = $jobs")
    // measured 66 on two consecutive runs (stable); budget = measured
    // + 6 == the "+2 jobs/batch over 3 batches" drift bound
    assert(jobs <= 72, s"per-batch job overhead crept: $jobs jobs for a 3-batch drain (budget 72)")
  }
}
