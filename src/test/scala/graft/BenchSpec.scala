package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("cpus is emitted as the validated integer, not the raw env string") {
    assert(Bench.cpusFrom(Some("032")) === 32)
    assert(Bench.cpusFrom(Some(" 8 ")) === 8)
    assert(Bench.cpusFrom(None) === 32)
    assert(s""""cpus":${Bench.cpusFrom(Some("032"))}""" === "\"cpus\":32")
    Seq("0", "-4", "four", "").foreach { bad =>
      intercept[IllegalArgumentException](Bench.cpusFrom(Some(bad)))
    }
  }
}
