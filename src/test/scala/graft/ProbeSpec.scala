package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe.driverGap

/** The probe's driver gap: wall time in [t0, t1] that no job span covers. */
class ProbeSpec extends AnyFunSuite {

  test("driver gap: disjoint jobs leave the time between them") {
    assert(driverGap(0, 100, Seq((10L, 20L), (50L, 70L))) === 70)
  }

  test("driver gap: overlapping jobs count their union once") {
    assert(driverGap(0, 100, Seq((40L, 80L), (10L, 50L))) === 30)
  }

  test("driver gap: a job nested in another adds no coverage") {
    assert(driverGap(0, 100, Seq((10L, 90L), (20L, 30L))) === 20)
  }

  test("driver gap: a job that never finished runs to the end of the window") {
    assert(driverGap(0, 100, Seq((10L, 20L), (60L, -1L))) === 50)
  }
}
