package graft

import org.scalatest.funsuite.AnyFunSuite

class ExplainConfSpec extends AnyFunSuite {

  test("comma-separated key=value entries parse in order") {
    assert(Explain.parseConf("a=1,b=2") == Seq("a" -> "1", "b" -> "2"))
    assert(Explain.parseConf("k=x=y") == Seq("k" -> "x=y"))
    assert(Explain.parseConf("") == Nil)
  }

  test("malformed entries are rejected by name") {
    for ((spec, entry) <- Seq("a" -> "'a'", "a=1," -> "''", "=1" -> "'=1'")) {
      val e = intercept[IllegalArgumentException](Explain.parseConf(spec))
      assert(e.getMessage.contains(s"entry $entry"), e.getMessage)
    }
  }
}
