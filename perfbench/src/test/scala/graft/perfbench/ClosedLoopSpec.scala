package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class ClosedLoopSpec extends AnyFunSuite {

  test("an operation that throws counts as a failure and records no time") {
    val s = ClosedLoop.run[Int](seconds = 0.0, minOps = 3,
      op = () => throw new IllegalStateException("boom"),
      check = _ => None, log = _ => ())
    assert(s.attempted == 3)
    assert(s.failed == 3)
    assert(s.times.isEmpty && s.cpuTimes.isEmpty)
    assert(s.errorRate == 1.0)
  }

  test("an operation whose output check fails records no time") {
    val s = ClosedLoop.run[Int](seconds = 0.0, minOps = 2, op = () => 41,
      check = v => if (v == 42) None else Some(s"got $v"), log = _ => ())
    assert(s.failed == 2 && s.times.isEmpty)
  }

  test("only the successful operations of a mixed run are timed") {
    var i = 0
    val s = ClosedLoop.run[Int](seconds = 0.0, minOps = 4,
      op = () => { i += 1; if (i % 2 == 0) throw new RuntimeException("odd") else i },
      check = _ => None, log = _ => ())
    assert(s.attempted == 4 && s.failed == 2 && s.times.size == 2)
    assert(s.cpuTimes.size == 2 && (s.times ++ s.cpuTimes).forall(_ >= 0.0))
  }

  test("Stats.median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
