package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Local.driverGap
import graft.tools.Probe.median

/** The probe's driver gap (wall time in [t0, t1] that no job span covers)
  * and the median its closing line reports.
  */
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

  test("median: the middle value, or the mean of the two middle values") {
    assert(median(Seq(5L, 1L, 3L)) === 3.0)
    assert(median(Seq(4L, 1L, 3L, 2L)) === 2.5)
  }
}
