package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's query groups compare numeric ids: a string range "q20" to
  * "q28" also swept q200-q279 into the heavy group.
  */
class BenchSpec extends AnyFunSuite {
  private def group(name: String): String =
    if (Bench.isStreaming(name)) "streaming" else if (Bench.isHeavy(name)) "heavy" else "light"

  test("light/heavy/streaming split on numeric ids") {
    assert(Seq("q20_x", "q27_x", "q28_x", "q200_x", "q203_x", "q213_x").map(group) ==
      Seq("heavy", "heavy", "light", "light", "heavy", "streaming"))
  }
}
