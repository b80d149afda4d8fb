package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Local scratch paths for TRANSIENT per-run artifacts (streaming result
  * sinks, checkpoints) — distinct from [[Staging]], which keys long-lived
  * artifacts by source STATE. Scratch dirs are wiped on every call; the
  * only keying requirement is that two spellings of the same source dir
  * ("testdata/sf0.01" vs "/root/testdata/sf0.01" vs "file:/...") land on
  * the same scratch path, which the qualified Hadoop URI guarantees —
  * `java.io.File` path handling (which mangles URI-shaped strings) does
  * not appear anywhere in the engine.
  */
object Scratch {

  /** RAM-backed scratch root when available: a micro-batch drain writes
    * and renames offset/commit log entries and per-partition state deltas
    * every batch, and a disk-backed /tmp adds write latency to each.
    * Measured, the per-batch tax was process launches, not fsync: Hadoop's
    * local FS launched `chmod`/`readlink` per checkpoint file, and with
    * [[graft.sources.LocalFs]] a traced `ingest_commit` run's streaming
    * log commit fell from 0.46 to 0.02 s. Checkpoints and (tiny) result
    * sinks are transient per-run artifacts, so tmpfs is semantics-neutral
    * — a production deployment would put the checkpoint on durable
    * storage. (Constant local paths, so NIO probes suffice — no
    * URI-shaped strings here.)
    */
  lazy val root: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      shm.toString
    else sys.props("java.io.tmpdir")
  }

  /** Fixed per-(tag, source-dir) scratch dir under [[root]], wiped before
    * each run. Keyed by the source's QUALIFIED URI so repeated runs over
    * the same input reuse (and wipe) one fixed location regardless of how
    * the caller spelled the path.
    */
  def freshDir(spark: SparkSession, tag: String, sourceDir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(sourceDir)
    val qualified = src.getFileSystem(conf).makeQualified(src).toString
    val key = org.apache.commons.codec.digest.DigestUtils.md5Hex(qualified).take(16)
    val d = new Path(root, s"graft_stream_${tag}_$key")
    d.getFileSystem(conf).delete(d, true)
    d.toString
  }
}
