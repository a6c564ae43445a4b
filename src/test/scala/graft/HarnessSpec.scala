package graft

import graft.Harness.Obj
import org.scalatest.funsuite.AnyFunSuite

/** The measuring mains' shared statistics and JSON writer. */
class HarnessSpec extends AnyFunSuite {
  test("median of odd and even counts, unsorted input") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(7.0)) == 7.0)
    assert(Harness.median(Nil) == 0.0)
  }

  test("cv is the population stddev over the mean") {
    assert(Harness.cv(Seq(2.0, 2.0, 2.0)) == 0.0)
    assert(math.abs(Harness.cv(Seq(1.0, 3.0)) - 0.5) < 1e-12)
    assert(Harness.cv(Seq(0.0, 0.0)) == 0.0)
  }

  test("strings escape quote, backslash and every control character") {
    assert(Harness.quote("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Harness.quote("x\ny\rz\tw") == "\"x\\ny\\rz\\tw\"")
    assert(Harness.quote("\u0000\u001f") == "\"\\u0000\\u001f\"")
    assert(Harness.quote("é ok") == "\"é ok\"")
  }

  test("objects keep field order; arrays and numbers render compactly") {
    val js = Harness.json(Obj(
      "metric" -> "total", "value" -> 1.5, "n" -> 3, "ok" -> true,
      "queries" -> Obj("b" -> 2.0, "a" -> 1.0), "empty" -> Obj(),
      "failed" -> Seq("q1", "q\"2"), "none" -> Nil))
    assert(js == """{"metric":"total","value":1.5,"n":3,"ok":true,""" +
      """"queries":{"b":2.0,"a":1.0},"empty":{},"failed":["q1","q\"2"],"none":[]}""")
  }
}
