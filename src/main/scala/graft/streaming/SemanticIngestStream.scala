package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Streaming near-dup ingest against a persisted SEMANTIC (k-means cell)
  * index: the [[IndexIngest]] skeleton over
  * [[Dedup.semanticIngestKernel]]. Batch boundaries are invisible, as in
  * [[MinhashIngestStream]]: drained == single-shot
  * [[Dedup.incrementalSemanticNearDupPairs]] over the whole increment
  * (q100's oracle; SemanticIngestStreamSpec plants the cross-batch pair
  * across batches 1 and 3).
  *
  * The quantizer is NOT retrained on append (the stored centroids assign
  * every batch); codebook drift is the rebuild trigger, observable via
  * [[Dedup.semanticDrift]] against the meta-recorded training
  * distribution — a long-running ingest should sample it periodically.
  *
  * Scale shape per batch: batch cell-assignments broadcast, the stored
  * assignment index streams wide, exact cosines touch only
  * cell-cohabiting pairs, the append writes batch-sized files. Nothing
  * re-clusters or re-shuffles the corpus side.
  */
object SemanticIngestStream {

  /** Drain `feedDir` (parquet file stream of (idCol, vecCol) rows) into
    * `indexDir`, writing each batch's touching pairs to `outDir`; returns
    * the accumulated pairs.
    */
  def ingest(
      spark: SparkSession, feedDir: String, feedSchema: StructType,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95,
      maxFilesPerTrigger: Option[Int] = None, compactEvery: Int = 0): DataFrame =
    IndexIngest.drain(spark, feedDir, feedSchema, outDir, checkpointDir,
      maxFilesPerTrigger, compactEvery,
      Dedup.semanticIngestKernel(indexDir, idCol, vecCol, threshold))
}
