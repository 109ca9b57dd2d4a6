package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("sfJson: a decimal scale factor is a JSON number, anything else a quoted string") {
    assert(Bench.sfJson("/data/sf0.1") == "0.1")
    assert(Bench.sfJson("/data/sf1") == "1")
    assert(Bench.sfJson("sf10") == "10")
    // multi-dot, dot-only and leading-zero captures are not JSON numbers
    assert(Bench.sfJson("/data/sf.") == "\"/data/sf.\"")
    assert(Bench.sfJson("/data/sf0.1.2") == "\"/data/sf0.1.2\"")
    assert(Bench.sfJson("/data/sf01") == "\"/data/sf01\"")
    assert(Bench.sfJson("/data/tpch") == "\"/data/tpch\"")
  }

  test("jsonStr: quote, backslash, LF, CR, tab and other control chars are escaped") {
    assert(Bench.jsonStr("plain") == "\"plain\"")
    assert(Bench.jsonStr("say \"hi\"") == "\"say \\\"hi\\\"\"")
    assert(Bench.jsonStr("a\\b") == "\"a\\\\b\"")
    assert(Bench.jsonStr("l1\nl2\rl3\tl4") == "\"l1\\nl2\\rl3\\tl4\"")
    assert(Bench.jsonStr("x\u0001y") == "\"x\\u0001y\"")
  }
}
