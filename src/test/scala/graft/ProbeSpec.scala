package graft

import org.scalatest.funsuite.AnyFunSuite

/** The job-interval union behind `graft.Probe jobs`' driver-gap split:
  * jobs that run side by side count once.
  */
class ProbeSpec extends AnyFunSuite {

  test("job-interval union: overlapping, nested, disjoint and empty") {
    assert(Probe.unionMs(Nil) == 0)
    assert(Probe.unionMs(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Probe.unionMs(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Probe.unionMs(Seq((30L, 40L), (0L, 10L))) == 20)
    assert(Probe.unionMs(Seq((5L, 5L), (7L, 3L))) == 0)
  }
}
