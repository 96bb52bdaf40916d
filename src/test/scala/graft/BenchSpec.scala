package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("cpus is emitted as the validated integer, not the raw env string") {
    assert(graft.core.GraftSession.cpusFrom(Some("032")) === 32)
    assert(graft.core.GraftSession.cpusFrom(Some(" 8 ")) === 8)
    assert(graft.core.GraftSession.cpusFrom(None) === 32)
    assert(s""""cpus":${graft.core.GraftSession.cpusFrom(Some("032"))}""" === "\"cpus\":32")
    Seq("0", "-4", "four", "").foreach { bad =>
      intercept[IllegalArgumentException](graft.core.GraftSession.cpusFrom(Some(bad)))
    }
  }
}
