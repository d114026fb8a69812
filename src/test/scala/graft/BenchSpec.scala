package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("extraConf: blank entries are skipped, a malformed entry is named") {
    assert(Bench.extraConf("").isEmpty)
    assert(Bench.extraConf("a=b,,c=d") == Seq("a" -> "b", "c" -> "d"))
    assert(Bench.extraConf("k=v=w") == Seq("k" -> "v=w"))
    for (raw <- Seq("x", "a=b,x", "=v")) {
      val e = intercept[IllegalArgumentException](Bench.extraConf(raw))
      assert(e.getMessage.contains(s"'${raw.split(",").last}'"), e.getMessage)
    }
  }
}
