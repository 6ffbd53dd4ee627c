package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark main's one JSON line: the normal line's exact bytes, and
  * the partial line a signal or an escaped exception prints instead. */
class BenchSpec extends AnyFunSuite {
  private val rows = Seq(("m01", 1.5, true), ("x02", -0.25, false), ("x03", 2.0004, true))

  test("the normal line") {
    assert(Bench.jsonFor(rows, """{"x03":{"battery":2.000,"prior":1.000,"isolated_median":1.100}}""",
      "/data/sf0.1") ===
      """{"metric":"total","value":3.500,"unit":"sec","queries":{"m01":1.500,"x02":-0.250,""" +
      """"x03":2.000},"failed":["x02"],"adjudications":{"x03":{"battery":2.000,"prior":1.000,""" +
      """"isolated_median":1.100}},"sf":"/data/sf0.1"}""")
    assert(Bench.jsonFor(Nil, "{}", "s") ===
      """{"metric":"total","value":0.000,"unit":"sec","queries":{},"failed":[],"adjudications":{},"sf":"s"}""")
  }

  test("the partial line names why the battery stopped") {
    assert(Bench.jsonFor(rows.take(1), "{}", "s", Some("signal")) ===
      """{"metric":"total","partial":true,"aborted":"signal","value":1.500,"unit":"sec",""" +
      """"queries":{"m01":1.500},"failed":[],"adjudications":{},"sf":"s"}""")
    assert(Bench.jsonFor(Nil, "{}", "s", Some("java.lang.OutOfMemoryError")).startsWith(
      """{"metric":"total","partial":true,"aborted":"java.lang.OutOfMemoryError","value":0.000,"""))
  }
}
