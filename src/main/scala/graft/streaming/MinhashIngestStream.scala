package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Streaming near-dup ingest against a persisted MinHash index — the
  * "keep the index current" half of [[Dedup.writeMinhashIndex]]'s
  * deployment contract as a RUNNING operator: the [[IndexIngest]]
  * skeleton over [[Dedup.minhashIngestKernel]] (each batch's touching
  * pairs, then its bucket/set segment).
  *
  * Batch boundaries are invisible in the result: a pair (x in batch N,
  * y in batch M > N) forms exactly once — during M, whose probe side
  * holds y and whose index already holds x's appended rows; within-batch
  * pairs form id-ordered in their own batch; corpus-vs-corpus never
  * forms. Appended rows behave as "corpus" on later probes, which is
  * semantically right — "already ingested" and "original corpus" are the
  * same thing to a probe. Drained with Trigger.AvailableNow over a
  * staged feed, the accumulated output EQUALS the single-shot
  * [[Dedup.incrementalNearDupPairs]] over the whole increment (q92's
  * oracle and MinhashIngestStreamSpec pin the equality).
  *
  * Scale shape: per batch, probe cost is the q70 shape (batch broadcasts,
  * index streams) and the append writes batch-sized files; the index
  * grows by exactly the ingested rows, and nothing ever rewrites or
  * re-shuffles the corpus side.
  */
object MinhashIngestStream {

  /** Drain `feedDir` into `indexDir`, writing each batch's touching pairs
    * to `outDir`; returns the accumulated pairs.
    */
  def ingest(
      spark: SparkSession, feedDir: String, feedSchema: StructType,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8,
      maxFilesPerTrigger: Option[Int] = None, compactEvery: Int = 0): DataFrame =
    IndexIngest.drain(spark, feedDir, feedSchema, outDir, checkpointDir,
      maxFilesPerTrigger, compactEvery,
      Dedup.minhashIngestKernel(indexDir, idCol, textCol, threshold))
}
