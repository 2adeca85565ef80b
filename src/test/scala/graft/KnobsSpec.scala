package graft

import graft.sources.Snapshots
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

  test("snapshot knobs reject a bad system property, naming the knob") {
    val knobs = Seq[(String, () => Long)](
      "graft.snapshot.lock.ttl.ms" -> (() => Snapshots.lockTtlMs),
      "graft.snapshot.lock.wait.ms" -> (() => Snapshots.lockWaitMs),
      "graft.snapshot.ckpt.every" -> (() => Snapshots.checkpointEvery.toLong))
    for ((name, read) <- knobs; bad <- Seq("abc", "0", "-5")) {
      System.setProperty(name, bad)
      try {
        val e = intercept[IllegalArgumentException](read())
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally System.clearProperty(name)
    }
  }
}
