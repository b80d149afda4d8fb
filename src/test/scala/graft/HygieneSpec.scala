package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source-hygiene contract, enforced as a build failure instead of a
  * review note (the LedgerSpec pattern).
  *
  * `java.io.File` must not reappear anywhere in main sources (including
  * `tools/`): it silently mangles URI-shaped paths — a `file:` or remote
  * scheme reports length 0 / mtime 0 instead of failing — which under
  * [[graft.queries.Staging]]'s fingerprint keying would produce a
  * stable-but-wrong stage key that replays a stale artifact forever.
  * Path handling goes through each path's Hadoop FileSystem (commit
  * 3679c24 swept main; this spec keeps it swept).
  *
  * Nor may main sources launch OS processes: each launch is milliseconds
  * of serial driver time (the reason [[graft.sources.LocalFs]] exists).
  */
class HygieneSpec extends AnyFunSuite {

  private def scalaSources(root: Path): Seq[Path] = {
    assert(Files.exists(root), s"$root not found (tests run from the build root)")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Non-comment lines of main sources that `pattern` matches, located. */
  private def mainLinesMatching(pattern: Regex): Seq[String] = for {
    src <- scalaSources(Paths.get("src/main/scala"))
    (line, i) <- Files.readString(src).linesIterator.zipWithIndex.toSeq
    if !isComment(line) && pattern.findFirstIn(line).isDefined
  } yield s"$src:${i + 1}: ${line.trim}"

  test("no java.io.File in main sources (tools/ included) — Hadoop FileSystem only") {
    val offending = mainLinesMatching("""java\.io\.File\b""".r)
    assert(offending.isEmpty,
      "java.io.File mangles URI-shaped paths (stable-but-wrong stage keys); " +
        s"use the path's Hadoop FileSystem:\n${offending.mkString("\n")}")
  }

  test("no process launches in main sources") {
    val offending = mainLinesMatching(
      ("""\bProcessBuilder\b|\bsys\.process\b|Runtime\.getRuntime(\(\))?\.exec\b|""" +
        """org\.apache\.hadoop\.util\.(Shell\b|\{[^}]*\bShell\b)""").r)
    assert(offending.isEmpty,
      "each OS process launch costs milliseconds of serial driver time; " +
        s"issue the syscall in-process (see graft.sources.LocalFs):\n${offending.mkString("\n")}")
  }
}
