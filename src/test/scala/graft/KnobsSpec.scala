package graft

import org.scalatest.funsuite.AnyFunSuite

class KnobsSpec extends AnyFunSuite {

  test("positiveInt keeps the default when unset and parses a positive value") {
    assert(Knobs.positiveInt("k", None, 7) == 7)
    assert(Knobs.positiveInt("k", Some("12"), 7) == 12)
    assert(Knobs.positiveInt("k", Some(" 3 "), 7) == 3)
  }

  test("positiveInt rejects non-integers and values <= 0, naming the knob and the value") {
    for (bad <- Seq("abc", "", "1.5", "0", "-4", "99999999999")) {
      val e = intercept[IllegalArgumentException](Knobs.positiveInt("graft.some.knob", Some(bad), 7))
      assert(e.getMessage.contains("graft.some.knob") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the default is evaluated only when the knob is unset") {
    var evaluated = false
    Knobs.positiveInt("k", Some("5"), { evaluated = true; 1 })
    assert(!evaluated)
  }
}
