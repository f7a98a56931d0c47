package perfbench

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("the result line carries the contract's keys with full-precision values") {
    val line = Json.result(correct = true, 12, 0, Seq(("op_p50_s", 1.2345678901, "s")))
    assert(line == """{"correct": true, "attempted": 12, "failed": 0, "metrics": {"op_p50_s": {"value": 1.2345678901, "unit": "s"}}}""")
    intercept[IllegalArgumentException](Json.result(correct = true, 1, 0, Seq(("x", Double.NaN, "s"))))
  }
}
