package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Marker-committed SEGMENTS for multi-part persisted indexes — the
  * commit protocol behind replay-safe index maintenance (the r8 verdict's
  * one `weak`: a streaming ingest that plain-`append`s bucket AND set
  * rows duplicates both when Structured Streaming replays a batch after
  * a crash, and a crash BETWEEN the two appends leaves bucket rows whose
  * set rows are missing — candidates that silently fail the verify join).
  *
  * Layout, relative to an index directory `dir` whose base build wrote
  * its parts as plain parquet dirs (`dir/buckets`, `dir/sets`, ...):
  *
  * {{{
  *   dir/segs/<part>/<seg>/     appended data, one dir per (part, segment)
  *   dir/segs/_commits/<seg>    marker file; content = superseded segs
  * }}}
  *
  * [[append]] is the one entry point that writes a segment, in order:
  *  1. validate the segment name — before anything touches the disk,
  *     so an empty or path-like name can never overwrite a whole part
  *     dir or land outside the segment tree;
  *  2. if the segment is already committed, run only the caller's
  *     `alongside` action: the replay path of a deterministic name
  *     (e.g. `batch-<id>` from a streaming checkpoint) — the segment is
  *     skipped whole, and the at-least-once upstream becomes
  *     exactly-once downstream;
  *  3. otherwise write every part (`overwrite` — a replayed or
  *     re-crashed attempt REWRITES its own partial output instead of
  *     appending beside it) and `alongside`, all concurrently
  *     ([[graft.operators.ConcurrentJobs]]);
  *  4. commit: the marker is written to a scratch name and RENAMED into
  *     place — one atomic filesystem operation is the entire commit.
  *     Readers ([[readPart]]) see base + COMMITTED segments only, so a
  *     crash at any earlier point leaves the index exactly as it was.
  *
  * [[compact]] bounds the file/segment count an ingest loop accretes:
  * live segments merge into one `compact-<n>` segment whose marker lists
  * them as superseded — again one rename as the commit point — and the
  * dead data dirs are then deleted best-effort (readers that listed
  * commits after the rename never touch them; the rename-vs-read race
  * has the same local/HDFS atomicity contract as
  * [[Compact.rewriteParquet]], and an object-store deployment runs this
  * under a table format's transaction instead).
  *
  * Single-writer by design: one ingest owns an index directory (the
  * [[graft.streaming.IndexIngest]] deployment contract); the
  * protocol defends against CRASHES and REPLAYS of that writer, not
  * against two concurrent writers racing commits.
  */
object Segments {

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def commitsPath(root: Path) = new Path(root, "segs/_commits")

  /** An index's declared parts: part name -> Hive partition columns.
    * [[append]] writes one frame per entry, [[compact]] merges them.
    */
  type Layout = Seq[(String, Seq[String])]

  private def requireName(seg: String): Unit =
    require(seg.nonEmpty && !seg.startsWith(".") && !seg.startsWith("_") &&
      !seg.contains("/"), s"invalid segment name: $seg")

  /** True iff `seg`'s marker exists — the replay fast path. */
  private[sources] def isCommitted(spark: SparkSession, dir: String, seg: String): Boolean = {
    val (fs, root) = fsFor(spark, dir)
    fs.exists(new Path(commitsPath(root), seg))
  }

  /** Overwrite-write one part of an (uncommitted) segment. */
  def writePart(df: DataFrame, dir: String, part: String, seg: String,
      partitionBy: Seq[String] = Nil): Unit = {
    requireName(seg)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$dir/segs/$part/$seg")
  }

  /** Append one segment: `frames` in `layout` order, plus `alongside`
    * (the caller's own output write, rerun on replay) — the protocol in
    * the object doc. `seg` defaults to a fresh `append-<uuid8>` name.
    */
  def append(spark: SparkSession, dir: String, seg: Option[String],
      layout: Layout, frames: Seq[DataFrame],
      alongside: () => Unit = () => ()): Unit = {
    require(frames.size == layout.size,
      s"${frames.size} frames for parts ${layout.map(_._1).mkString(",")}")
    val name = seg.getOrElse("append-" + java.util.UUID.randomUUID().toString.take(8))
    requireName(name)
    if (isCommitted(spark, dir, name)) alongside()
    else {
      graft.operators.ConcurrentJobs.awaitAll(layout.zip(frames).map {
        case ((part, partitionBy), df) =>
          () => writePart(df, dir, part, name, partitionBy)
      } :+ alongside: _*)
      commit(spark, dir, name)
    }
  }

  /** Atomically commit `seg`: write the marker (content = superseded
    * segment names, one per line) to a dot-scratch name, then rename it
    * into `_commits/<seg>` — the rename is the commit point. A marker
    * already present (a replay that lost the race with its own previous
    * attempt's rename) is left in place: same seg, same content.
    */
  private[sources] def commit(spark: SparkSession, dir: String, seg: String,
      supersedes: Seq[String] = Nil): Unit = {
    requireName(seg)
    val (fs, root) = fsFor(spark, dir)
    val commits = commitsPath(root)
    fs.mkdirs(commits)
    val tmp = new Path(commits, s".tmp_$seg")
    val out = fs.create(tmp, true)
    try out.write(supersedes.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(commits, seg)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      if (!fs.exists(dst))
        throw new java.io.IOException(s"segment commit failed: $tmp -> $dst")
    }
  }

  /** All committed markers as (seg, superseded-list), skipping scratch. */
  private def markers(fs: FileSystem, root: Path): Seq[(String, Seq[String])] = {
    val commits = commitsPath(root)
    if (!fs.exists(commits)) return Nil
    fs.listStatus(commits).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map { st =>
        val in = fs.open(st.getPath)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        st.getPath.getName -> content.filter(_.nonEmpty)
      }
  }

  /** Committed segments that no later commit superseded, sorted. */
  def liveSegs(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, root) = fsFor(spark, dir)
    val ms = markers(fs, root)
    val dead = ms.flatMap(_._2).toSet
    ms.map(_._1).filterNot(dead).sorted
  }

  /** One part of the dataset: the base build's plain parquet dir plus
    * every live segment's part dir. Uncommitted (partial) segments are
    * invisible by construction. The plan is one scan per live segment —
    * [[compact]] in the ingest loop is what keeps that bounded.
    */
  def readPart(spark: SparkSession, dir: String, part: String): DataFrame =
    liveSegs(spark, dir).foldLeft(spark.read.parquet(s"$dir/$part")) {
      (acc, seg) => acc.unionByName(spark.read.parquet(s"$dir/segs/$part/$seg"))
    }

  /** Merge all live segments of `parts` into one `compact-<n>` segment
    * (`n` = total markers ever written, so a re-run of a CRASHED compact
    * reuses — and overwrites — the same name), commit it superseding
    * them, then best-effort delete the superseded data. No-op with fewer
    * than two live segments. The base part dirs are never touched.
    * Each merged part is written as ~64 MB files. Returns the number of
    * segments merged.
    */
  def compact(spark: SparkSession, dir: String, parts: Layout): Int = {
    val targetBytes = 64L << 20
    val (fs, root) = fsFor(spark, dir)
    val live = liveSegs(spark, dir)
    if (live.size < 2) return 0
    val seg = s"compact-${markers(fs, root).size}"
    // per-part merges are independent (separate source dirs, separate
    // target dirs; the marker commit below is the only publish point) —
    // submit them concurrently (§2.6, [[graft.operators.ConcurrentJobs]])
    graft.operators.ConcurrentJobs.awaitAll(parts.map {
      case (part, partitionBy) => () => {
        val merged = live.map(s => spark.read.parquet(s"$dir/segs/$part/$s"))
          .reduce(_ unionByName _)
        val bytes = live.map { s =>
          val p = new Path(root, s"segs/$part/$s")
          fs.getContentSummary(p).getLength
        }.sum
        val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // partitioned parts cluster by their partition columns so each
        // Hive leaf gets whole files, not one sliver per shuffle task
        val laid =
          if (partitionBy.isEmpty) merged.repartition(n)
          else merged.repartition(n, partitionBy.map(org.apache.spark.sql.functions.col): _*)
        writePart(laid, dir, part, seg, partitionBy)
      }
    }: _*)
    commit(spark, dir, seg, supersedes = live)
    live.foreach { s =>
      parts.foreach { case (part, _) =>
        try fs.delete(new Path(root, s"segs/$part/$s"), true)
        catch { case _: java.io.IOException => () } // dead to readers; space-only
      }
    }
    live.size
  }

  /** GARBAGE-COLLECT crash debris the commit protocol makes invisible
    * but not free: (a) data dirs of segments that were WRITTEN but never
    * committed — a crash between [[writePart]] and [[commit]] leaves
    * them consuming space forever, since no reader or [[compact]] ever
    * references them; (b) data dirs of SUPERSEDED segments whose
    * best-effort delete in [[compact]] failed; (c) stale `.tmp_` marker
    * scratch files from crashed commits.
    *
    * `horizonMs` protects the single writer's IN-FLIGHT segment: an
    * uncommitted dir (or scratch marker) is only removed when its
    * modification time is older than the horizon, which must exceed the
    * longest write-to-commit window the ingest can experience (an hour
    * dwarfs any real micro-batch; superseded dirs need no horizon —
    * their markers prove no reader can list them). Run it from the
    * directory's owning writer between batches, like [[compact]].
    *
    * Driver-side filesystem walk only (no Spark jobs) — cost is the
    * directory listing. Returns the removed paths relative to `dir`.
    */
  def vacuum(spark: SparkSession, dir: String,
      horizonMs: Long = 60L * 60 * 1000): Seq[String] = {
    val (fs, root) = fsFor(spark, dir)
    val segsRoot = new Path(root, "segs")
    if (!fs.exists(segsRoot)) return Nil
    val ms = markers(fs, root)
    val committed = ms.map(_._1).toSet
    val dead = ms.flatMap(_._2).toSet
    val cutoff = System.currentTimeMillis() - horizonMs
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(segsRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != "_commits")
      .foreach { partSt =>
        fs.listStatus(partSt.getPath).toSeq.filter(_.isDirectory).foreach { segSt =>
          val name = segSt.getPath.getName
          val drop = dead.contains(name) ||
            (!committed.contains(name) && segSt.getModificationTime < cutoff)
          if (drop) {
            try {
              if (fs.delete(segSt.getPath, true))
                removed += s"segs/${partSt.getPath.getName}/$name"
            } catch { case _: java.io.IOException => () }
          }
        }
      }
    val commits = commitsPath(root)
    if (fs.exists(commits)) {
      fs.listStatus(commits).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp_") &&
          st.getModificationTime < cutoff)
        .foreach { st =>
          try {
            if (fs.delete(st.getPath, false))
              removed += s"segs/_commits/${st.getPath.getName}"
          } catch { case _: java.io.IOException => () }
        }
    }
    removed.toSeq
  }
}
