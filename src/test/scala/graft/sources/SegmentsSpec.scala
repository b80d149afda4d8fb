package graft.sources

import graft.SparkTestBase

/** [[Segments]] — the marker-rename commit protocol: uncommitted
  * (partial) segments are invisible, replays overwrite instead of
  * duplicating, and compaction supersedes without changing what readers
  * see.
  */
class SegmentsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_segs_$tag").toString

  private def rows(dir: String, part: String): Set[(Long, String)] =
    Segments.readPart(spark, dir, part)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def writeBase(dir: String): Unit =
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/data")

  test("uncommitted segment is invisible; commit makes it visible atomically") {
    val dir = tmp("vis")
    writeBase(dir)
    Segments.writePart(Seq((3L, "c")).toDF("id", "v"), dir, "data", "s1")
    // written but NOT committed — a crash between part-write and commit
    assert(rows(dir, "data") === Set((1L, "a"), (2L, "b")))
    assert(!Segments.isCommitted(spark, dir, "s1"))
    Segments.commit(spark, dir, "s1")
    assert(Segments.isCommitted(spark, dir, "s1"))
    assert(rows(dir, "data") === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("crash between the two parts of a segment leaves neither visible") {
    val dir = tmp("twopart")
    writeBase(dir)
    Seq((1L, "x")).toDF("id", "k")
      .write.mode("overwrite").parquet(s"$dir/keys")
    // segment writes part 1 of 2, then "crashes" before part 2 + commit
    Segments.writePart(Seq((9L, "z")).toDF("id", "v"), dir, "data", "s1")
    assert(rows(dir, "data") === Set((1L, "a"), (2L, "b")),
      "partial multi-part append must not surface")
    // the retry REWRITES both parts and commits — exactly once, no
    // appended-beside-partial duplicates
    Segments.writePart(Seq((9L, "z")).toDF("id", "v"), dir, "data", "s1")
    Segments.writePart(Seq((9L, "zz")).toDF("id", "k"), dir, "keys", "s1")
    Segments.commit(spark, dir, "s1")
    assert(rows(dir, "data") === Set((1L, "a"), (2L, "b"), (9L, "z")))
    assert(Segments.readPart(spark, dir, "keys").count() === 2)
  }

  test("replayed committed segment is a detectable no-op") {
    val dir = tmp("replay")
    writeBase(dir)
    Segments.writePart(Seq((3L, "c")).toDF("id", "v"), dir, "data", "batch-0")
    Segments.commit(spark, dir, "batch-0")
    // the caller's replay fast path: committed => skip; and even a full
    // blind re-run (overwrite + re-commit) converges to the same state
    assert(Segments.isCommitted(spark, dir, "batch-0"))
    Segments.writePart(Seq((3L, "c")).toDF("id", "v"), dir, "data", "batch-0")
    Segments.commit(spark, dir, "batch-0")
    assert(rows(dir, "data") === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("compact merges live segments, bounds scan width, output unchanged") {
    val dir = tmp("compact")
    writeBase(dir)
    (0 until 4).foreach { i =>
      Segments.writePart(Seq((10L + i, s"s$i")).toDF("id", "v"), dir, "data", s"batch-$i")
      Segments.commit(spark, dir, s"batch-$i")
    }
    val before = rows(dir, "data")
    assert(Segments.liveSegs(spark, dir).size === 4)
    val merged = Segments.compact(spark, dir, Seq("data" -> Nil))
    assert(merged === 4)
    assert(Segments.liveSegs(spark, dir).size === 1)
    assert(rows(dir, "data") === before, "compaction must not change content")
    // idempotent: nothing left to merge
    assert(Segments.compact(spark, dir, Seq("data" -> Nil)) === 0)
    // later appends stack on top of the compacted segment
    Segments.writePart(Seq((99L, "new")).toDF("id", "v"), dir, "data", "batch-4")
    Segments.commit(spark, dir, "batch-4")
    assert(rows(dir, "data") === before + ((99L, "new")))
    assert(Segments.liveSegs(spark, dir).size === 2)
  }

  test("partitioned part round-trips through segments and compaction") {
    val dir = tmp("parted")
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/data")
    (0 until 2).foreach { i =>
      Segments.writePart(
        Seq((10L + i, s"s$i", i)).toDF("id", "v", "cell"),
        dir, "data", s"batch-$i", partitionBy = Seq("cell"))
      Segments.commit(spark, dir, s"batch-$i")
    }
    def cells(): Set[(Long, Int)] =
      Segments.readPart(spark, dir, "data")
        .selectExpr("id", "cast(cell as int)")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val before = cells()
    assert(before === Set((1L, 0), (2L, 1), (10L, 0), (11L, 1)))
    Segments.compact(spark, dir, Seq("data" -> Seq("cell")))
    assert(cells() === before)
  }

  test("vacuum removes aged crash debris and superseded leftovers, never live data") {
    val dir = tmp("vac")
    writeBase(dir)
    // two committed segments, then compact so both become superseded;
    // plant a leftover data dir for one of them (compact's best-effort
    // delete "failed")
    Segments.writePart(Seq((3L, "c")).toDF("id", "v"), dir, "data", "s1")
    Segments.commit(spark, dir, "s1")
    Segments.writePart(Seq((4L, "d")).toDF("id", "v"), dir, "data", "s2")
    Segments.commit(spark, dir, "s2")
    Segments.compact(spark, dir, Seq("data" -> Nil))
    val leftover = new java.io.File(s"$dir/segs/data/s1")
    leftover.mkdirs()
    new java.io.File(leftover, "orphan.parquet").createNewFile()
    // crash debris: written, never committed
    Segments.writePart(Seq((9L, "x")).toDF("id", "v"), dir, "data", "crashed")
    // stale scratch marker from a crashed commit
    val scratch = new java.io.File(s"$dir/segs/_commits/.tmp_crashed")
    scratch.createNewFile()
    val before = rows(dir, "data")
    // horizon 0: everything aged counts as stale immediately
    val removed = Segments.vacuum(spark, dir, horizonMs = 0L).toSet
    assert(removed.contains("segs/data/s1"), s"superseded leftover not removed: $removed")
    assert(removed.contains("segs/data/crashed"), s"crash debris not removed: $removed")
    assert(removed.contains("segs/_commits/.tmp_crashed"), s"scratch marker not removed: $removed")
    // the live compacted segment and the base are untouched; readers
    // see exactly what they saw before
    assert(rows(dir, "data") === before)
    assert(new java.io.File(s"$dir/segs/data/compact-2").exists())
  }

  test("vacuum's horizon protects an in-flight uncommitted segment") {
    val dir = tmp("vach")
    writeBase(dir)
    Segments.writePart(Seq((9L, "x")).toDF("id", "v"), dir, "data", "inflight")
    val removed = Segments.vacuum(spark, dir, horizonMs = 60L * 60 * 1000)
    assert(removed.isEmpty, s"fresh in-flight segment must survive: $removed")
    // the writer then commits it and the rows appear as normal
    Segments.commit(spark, dir, "inflight")
    assert(rows(dir, "data").contains((9L, "x")))
  }

  /** Base + two committed two-part segments, through [[Segments.append]]. */
  private val twoParts: Segments.Layout = Seq("data" -> Nil, "keys" -> Nil)

  private def committedIndex(tag: String): String = {
    val dir = tmp(tag)
    writeBase(dir)
    Seq((1L, "x")).toDF("id", "k").write.mode("overwrite").parquet(s"$dir/keys")
    (0 until 2).foreach { i =>
      Segments.append(spark, dir, Some(s"batch-$i"), twoParts,
        Seq(Seq((10L + i, s"s$i")).toDF("id", "v"), Seq((10L + i, s"k$i")).toDF("id", "k")))
    }
    dir
  }

  private def segCounts(dir: String): Map[(String, String), Long] =
    (for { (part, _) <- twoParts; seg <- Seq("batch-0", "batch-1") }
      yield (part, seg) -> spark.read.parquet(s"$dir/segs/$part/$seg").count()).toMap

  Seq("" -> "empty", "../x" -> "path-like").foreach { case (bad, kind) =>
    test(s"$kind segment name is rejected before any write; committed segments intact") {
      val dir = committedIndex("badname")
      val before = segCounts(dir)
      assert(before.values.forall(_ == 1L))
      val bad99 = Seq((99L, "bad")).toDF("id", "v")
      intercept[IllegalArgumentException] {
        Segments.append(spark, dir, Some(bad), twoParts,
          Seq(bad99, Seq((99L, "bad")).toDF("id", "k")))
      }
      // the part writer itself refuses too: an overwrite of
      // `segs/data/<bad>` would replace the whole part's segment tree
      intercept[IllegalArgumentException] {
        Segments.writePart(bad99, dir, "data", bad)
      }
      assert(segCounts(dir) === before)
      assert(Segments.liveSegs(spark, dir) === Seq("batch-0", "batch-1"))
      assert(rows(dir, "data") === Set((1L, "a"), (2L, "b"), (10L, "s0"), (11L, "s1")))
      assert(!new java.io.File(s"$dir/segs/x").exists(),
        "a path-like name wrote outside the segment tree")
    }
  }

  test("a readPart frame built before a commit keeps its frozen listing after it") {
    val dir = committedIndex("frozen")
    val planned = Segments.readPart(spark, dir, "data")
    Segments.append(spark, dir, Some("batch-2"), twoParts,
      Seq(Seq((12L, "s2")).toDF("id", "v"), Seq((12L, "k2")).toDF("id", "k")))
    // the listing froze at construction: the concurrent part writes of an
    // ingest batch cannot change what its already-built probe reads
    assert(planned.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (10L, "s0"), (11L, "s1")))
    assert(rows(dir, "data").contains((12L, "s2")))
  }
}
