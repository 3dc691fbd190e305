package graft

import org.scalatest.funsuite.AnyFunSuite

/** GRAFT_PROBE_CONF parsing shared by the probe mains. */
class ProbeConfSpec extends AnyFunSuite {

  test("confPairs: splits on the first '=' and skips empty segments") {
    assert(Probe.confPairs("a=1;;b=x=y;") == Seq("a" -> "1", "b" -> "x=y"))
    assert(Probe.confPairs("") == Seq.empty)
  }

  test("confPairs: a segment without '=' fails by name") {
    val e = intercept[RuntimeException](Probe.confPairs("a=1;oops"))
    assert(e.getMessage == "bad conf pair: oops")
  }
}
