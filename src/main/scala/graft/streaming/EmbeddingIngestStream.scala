package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Streaming near-dup ingest against a persisted EMBEDDING
  * (hyperplane-LSH) index: the [[IndexIngest]] skeleton over
  * [[Dedup.embeddingIngestKernel]], so the q78-shape incremental
  * embedding dedup is a continuously-maintained service, not a
  * per-ingest batch job. Batch boundaries are invisible, as in
  * [[MinhashIngestStream]]: drained == single-shot
  * [[Dedup.incrementalEmbeddingNearDupPairs]] over the whole increment
  * (q95's oracle; EmbeddingIngestStreamSpec plants a cross-batch pair
  * across batches 1 and 3). The probe runs at multi-probe radius 1.
  *
  * Scale shape per batch: the batch's signatures broadcast, the stored
  * bucket index streams wide ([[graft.operators.ScaleOut]] inside the
  * probe), candidate verification touches exact vectors only for
  * bucket-cohabiting pairs, and the append writes batch-sized files.
  * Nothing ever re-hashes or re-shuffles the corpus side.
  */
object EmbeddingIngestStream {

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
      Dedup.embeddingIngestKernel(indexDir, idCol, vecCol, threshold))
}
