package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.operators.CacheScope
import graft.sources.Segments

/** The crash-replay matrix of [[IndexIngest]], run once per index kernel:
  * each per-index spec extends this with its index build, its batches
  * and its single-shot reference, and every kernel must converge to that
  * reference after a crash at each side-effect boundary of the batch body
  * and keep it with compaction interleaved mid-stream. Test titles name
  * the kernel's own `output` rows ("pair", "match") and its two parts
  * (`partNouns`, singular, in layout order).
  */
abstract class IngestReplayMatrix(output: String, partNouns: (String, String))
    extends SparkTestBase {

  protected def feedSchema: StructType

  /** A fresh, private copy of the corpus index. */
  protected def freshIndex(): String

  /** Four single-row batches; the crash cases ingest the first three. */
  protected def batches: Seq[DataFrame]

  protected def kernel(indexDir: String): IndexIngest.Kernel

  /** The index's public drain (`XIngestStream.ingest`). */
  protected def ingest(feedDir: String, indexDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int): DataFrame

  /** The uninterrupted output of the first `n` batches, computed on a
    * fresh index without the ingest skeleton.
    */
  protected def singleShot(n: Int): Set[Seq[Any]]

  /** A probe after the ingest, and an ingested id it must surface. */
  protected def probeLater(indexDir: String): Set[Seq[Any]]
  protected def laterHit: Long

  /** Id pairs (in `hitColumns`) the compacting drain must emit from the
    * batches after the first compaction (after batch 1): each probe reads
    * the compacted segment and any segment written after it.
    */
  protected def compactedHits: Set[(Long, Long)]
  protected def hitColumns: (String, String)

  private val references = mutable.Map.empty[Int, Set[Seq[Any]]]
  protected def reference(n: Int): Set[Seq[Any]] =
    references.getOrElseUpdate(n, singleShot(n))

  protected def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ingest_$tag").toString

  protected def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def outRows(outDir: String): Set[Seq[Any]] =
    rowSet(spark.read.parquet(outDir).drop("batch"))

  /** Drive the batch body directly (the foreachBatch contract: batch i =
    * feed file i), batches `first` until `end`.
    */
  private def run(k: IndexIngest.Kernel, outDir: String,
      first: Int = 0, end: Int = 3): Unit =
    (first until end).foreach(i =>
      IndexIngest.ingestBatch(k, batches(i), i.toLong, outDir, compactEvery = 0))

  test(s"crash between $output-write and index append: replay converges") {
    val indexDir = freshIndex()
    val outDir = tmp("out")
    val k = kernel(indexDir)
    // batch 0 writes its output, then dies before the segment append
    CacheScope.scoped {
      k.batch(batches(0))._2.write.mode("overwrite").parquet(s"$outDir/batch=0")
    }
    assert(Segments.liveSegs(spark, indexDir).isEmpty,
      "partial append became visible without its commit marker")
    // restart: streaming re-runs batch 0 from the checkpoint, then 1, 2
    run(k, outDir)
    assert(outRows(outDir) === reference(3))
  }

  test(s"crash between the ${partNouns._1} and ${partNouns._2} part-writes: " +
      "nothing surfaces, replay converges") {
    val indexDir = freshIndex()
    val outDir = tmp("out")
    val k = kernel(indexDir)
    val (part, partitionBy) = k.layout.head
    val visible = Segments.readPart(spark, indexDir, part).count()
    // batch 0 wrote its output AND its first part, then died before the
    // second part — the uncommitted segment must be invisible to the
    // replayed probe (a half-append would generate candidates that
    // silently fail verification and DROP real results)
    CacheScope.scoped {
      val (parts, out) = k.batch(batches(0))
      out.write.mode("overwrite").parquet(s"$outDir/batch=0")
      Segments.writePart(parts.head, indexDir, part, "batch-0", partitionBy)
    }
    assert(Segments.liveSegs(spark, indexDir).isEmpty)
    assert(Segments.readPart(spark, indexDir, part).count() === visible,
      "a half-written segment surfaced")
    run(k, outDir)
    assert(outRows(outDir) === reference(3))
  }

  test("post-commit batch replay rewrites identical output, no duplicate segment") {
    val indexDir = freshIndex()
    val outDir = tmp("out")
    val k = kernel(indexDir)
    run(k, outDir, end = 1)
    val afterFirst = outRows(outDir)
    // batch 0 ran to completion but the checkpoint commit never landed,
    // so streaming re-runs it against an index that already holds its
    // rows: the replayed probe must still produce the identical output
    run(k, outDir, end = 1)
    assert(outRows(outDir) === afterFirst,
      "replay of a fully-committed batch must rewrite identical output")
    assert(Segments.liveSegs(spark, indexDir) === Seq("batch-0"),
      "replay must not duplicate the batch's index segment")
    run(k, outDir, first = 1)
    assert(outRows(outDir) === reference(3))
  }

  test("compaction interleaved mid-stream: output identical, segments bounded") {
    val plain = freshIndex()
    val compacted = freshIndex()
    val feedDir = tmp("feed")
    batches.foreach(_.coalesce(1).write.mode("append").parquet(feedDir))
    // 4 batches at compactEvery=2: batches 2 and 3 probe through the
    // first compacted segment, and the final compaction folds everything
    // into one live segment — file count bounded, not linear
    val streamed = ingest(feedDir, compacted, tmp("out"), tmp("ckpt"), compactEvery = 2)
    assert(rowSet(streamed) === reference(batches.size))
    val hits = streamed.select(hitColumns._1, hitColumns._2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    compactedHits.foreach(h => assert(hits.contains(h),
      s"a probe after the compaction lost $h: $hits"))
    assert(Segments.liveSegs(spark, compacted).size === 1,
      s"live segments not bounded: ${Segments.liveSegs(spark, compacted)}")
    // the compacted index answers exactly like an uncompacted one,
    // through the rows the stream ingested
    run(kernel(plain), tmp("out"), end = batches.size)
    val later = probeLater(compacted)
    assert(later === probeLater(plain))
    assert(later.exists(_.contains(laterHit)),
      s"compacted index lost ingested row $laterHit: $later")
  }
}
