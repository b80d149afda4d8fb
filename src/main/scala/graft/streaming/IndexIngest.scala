package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.CacheScope
import graft.sources.Segments

/** The ingest skeleton shared by every persisted index the engine keeps
  * current (MinHash, hyperplane-LSH embedding, semantic cells, IVF+PQ):
  * each micro-batch of arriving rows is PROBED against everything
  * committed before it and APPENDED to the index as one [[Segments]]
  * segment, so every later batch's probe sees everything ingested before
  * it. An index contributes only its [[IndexIngest.Kernel]]; the protocol
  * below is written once, here.
  *
  * Per batch `<id>`, inside one [[CacheScope]]:
  *  1. the kernel turns the batch into its (pinned) segment-part frames
  *     and its probe frame. The probe plan is constructed HERE, before
  *     any write: [[Segments.readPart]] lists the index's files when the
  *     frame is built, so the listing is frozen and the writes below
  *     cannot influence it (SegmentsSpec pins the frozen listing);
  *  2. [[Segments.append]] with segment `batch-<id>`: the part writes and
  *     the probe frame's overwrite of `outDir/batch=<id>` run
  *     concurrently, then the marker commit publishes the segment — or,
  *     if `batch-<id>` is already committed, only the output is
  *     rewritten;
  *  3. every `compactEvery` batches, [[Segments.compact]] folds the live
  *     segments of the kernel's declared parts into one (marker-
  *     committed, probe-transparent), so a long-running ingest's file
  *     count and probe plan width stay bounded instead of growing forever.
  *
  * CRASH-REPLAY IDEMPOTENT end to end: Structured Streaming re-runs a
  * batch whenever a crash lands between its side effects and its
  * checkpoint commit, and every effect converges under re-execution —
  *
  *   - the output OVERWRITES its per-batch directory, the keyed-overwrite
  *     protocol of [[EventStreams.idempotentAppendBatchKeyed]]: a replay
  *     rewrites its own partial files instead of appending beside them;
  *   - a crash between part writes, or after the output write and before
  *     the commit, leaves NOTHING visible to probes (no marker), and the
  *     replay rewrites every part;
  *   - a replay after the commit skips the append, and its probe is
  *     invariant to the batch's own segment being visible: every kernel
  *     resolves the batch's own ids in the batch's favor (the dedup
  *     probes' candidate `distinct` and anti-joined verification sets,
  *     the ANN search's own-id exclusion), so the rewritten output is
  *     identical and no segment is duplicated.
  *
  * That same invariance is what lets the output write run concurrently
  * with the part writes. IngestReplayMatrix drives every kernel through
  * each boundary and pins the converged state.
  *
  * The index MUTATES — that is the point — so callers ingest into a
  * per-run COPY of a staged index, never a shared stage itself. One
  * ingest owns an index directory ([[Segments]] is single-writer).
  */
object IndexIngest {

  /** One index's per-batch work against `dir`: `layout` declares the
    * segment parts it appends (also the list compaction merges), and
    * `batch` turns a micro-batch into those parts' frames, in `layout`
    * order, plus the probe frame that becomes the batch's output.
    */
  final case class Kernel(
      dir: String, layout: Segments.Layout,
      batch: DataFrame => (Seq[DataFrame], DataFrame))

  /** One micro-batch (the foreachBatch body) — public so crash-replay
    * tests can drive and interrupt it directly.
    */
  def ingestBatch(kernel: Kernel, batch: DataFrame, batchId: Long,
      outDir: String, compactEvery: Int): Unit = {
    val spark = batch.sparkSession
    CacheScope.scoped {
      val (parts, output) = kernel.batch(batch)
      Segments.append(spark, kernel.dir, Some(s"batch-$batchId"), kernel.layout, parts,
        alongside = () => output.write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
    }
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      Segments.compact(spark, kernel.dir, kernel.layout)
  }

  /** Drain `feedDir` (parquet file stream; `maxFilesPerTrigger` controls
    * micro-batch granularity) through `kernel`, writing each batch's
    * output under `outDir`. Returns the accumulated output, without the
    * `batch` partition column (an artifact of the per-batch sink).
    */
  def drain(
      spark: SparkSession, feedDir: String, feedSchema: StructType,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int], compactEvery: Int, kernel: Kernel): DataFrame = {
    var reader = spark.readStream.schema(feedSchema)
    maxFilesPerTrigger.foreach(m => reader = reader.option("maxFilesPerTrigger", m))
    reader.parquet(feedDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(kernel, batch, batchId, outDir, compactEvery)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.read.parquet(outDir).drop("batch")
  }
}
