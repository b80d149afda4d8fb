package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Pq

/** Streaming ANN ingest against a persisted IVF+PQ index: the
  * [[IndexIngest]] skeleton over [[Pq.ivfPqIngestKernel]] — each batch
  * of vectors is searched against everything committed before it (top-k
  * with probed-cell partition pruning and ADC shortlisting, the batch's
  * own ids excluded), then appended with the STORED quantizers. This is
  * the "index the stream as it arrives, surface what it matched"
  * primitive (streaming retrieval feeds, dedup-adjacent triage,
  * content-based routing).
  *
  * Unlike the dedup streams' threshold-pair probes, top-k search is NOT
  * batch-boundary invisible — a query only sees neighbors committed
  * BEFORE its batch, by design (its answer at ingest time). The
  * determinism contract is instead per-batch: batch i's output equals a
  * single-shot [[Pq.searchIvfPqIndex]] against the index holding corpus
  * + batches 0..i-1 (AnnIngestStreamSpec pins this, plus the
  * no-future-leakage direction). Quantizers are never retrained on
  * append, and their state is loaded once per drain.
  *
  * Scale shape per batch: batch cell-assignments and ADC tables
  * broadcast, the code scan prunes to probed cells at the file listing,
  * ranking exchanges are k-capped by the bounded top-k aggregate, and
  * the append writes batch-sized files into cell partitions.
  */
object AnnIngestStream {

  /** Drain `feedDir` (parquet file stream of (idCol, vecCol) rows) into
    * `indexDir`, writing each batch's top-k matches to `outDir`; returns
    * the accumulated (query_id, rank, neighbor_id, cosine) matches.
    */
  def ingest(
      spark: SparkSession, feedDir: String, feedSchema: StructType,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 5, nprobe: Int = 4,
      maxFilesPerTrigger: Option[Int] = None, compactEvery: Int = 0): DataFrame =
    IndexIngest.drain(spark, feedDir, feedSchema, outDir, checkpointDir,
      maxFilesPerTrigger, compactEvery,
      Pq.ivfPqIngestKernel(spark, indexDir, idCol, vecCol, k, nprobe))
}
