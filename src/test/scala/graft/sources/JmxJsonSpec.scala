package graft.sources

import graft.sources.JmxJson.Gauge
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The driver-side attribute reader under its fault rule, with no Spark
  * session: the rule's cases one by one, then seeded payload fuzz. */
class JmxJsonSpec extends AnyFunSuite {
  import PayloadFuzz._

  private def one(value: String) = JmxJson.attributes(mbean(Seq("g" -> value)))

  test("payloads with no attributes: blank, non-JSON, missing or null list, bad names") {
    Shapeless.foreach(p => assert(JmxJson.attributes(p) === JmxJson.NoAttributes, p))
    assert(JmxJson.attributes(null) === JmxJson.NoAttributes)
    val names = JmxJson.attributes(
      """{"attributes":[{"name":null,"value":1},{"name":5,"value":2},{"value":3},
        |"g",{"name":"ok","value":4}]}""".stripMargin)
    assert(names.values.keySet === Set("ok"))
  }

  test("a null value is absent; the last occurrence of a name wins") {
    assert(one("null").double("g") === Gauge.Absent)
    assert(JmxJson.attributes("""{"attributes":[{"name":"g"}]}""").long("g") === Gauge.Absent)
    val dup = (a: String, b: String) => JmxJson.attributes(mbean(Seq("g" -> a, "g" -> b)))
    assert(dup("0.5", "0.25").double("g") === Gauge.Reading(0.25))
    assert(dup("\"n/a\"", "0.25").double("g") === Gauge.Reading(0.25))
    assert(dup("0.5", "\"n/a\"").double("g") === Gauge.Fault)
    assert(dup("0.5", "null").double("g") === Gauge.Absent)
    assert(!dup("0.5", "null").isPresent("g"))
  }

  test("double gauge: JSON numbers and numeric strings; NaN, Infinity and the rest fault") {
    Seq("0.42" -> 0.42, "\"0.42\"" -> 0.42, "\" 0.42 \"" -> 0.42, "1" -> 1.0,
      "-3" -> -3.0, "1e-3" -> 0.001, "\"2.5E2\"" -> 250.0,
      "99999999999999999999" -> 1e20).foreach { case (v, d) =>
      assert(one(v).double("g") === Gauge.Reading(d), v)
    }
    DoubleFaults.foreach(v => assert(one(v).double("g") === Gauge.Fault, v))
  }

  test("long gauge: integral values within Long; fractions, text, booleans, overflow fault") {
    Seq("8" -> 8L, "8.0" -> 8L, "\"8\"" -> 8L, "\"8.0\"" -> 8L, "-2" -> -2L,
      "1e3" -> 1000L, "9223372036854775807" -> Long.MaxValue,
      "\"-9223372036854775808\"" -> Long.MinValue).foreach { case (v, l) =>
      assert(one(v).long("g") === Gauge.Reading(l), v)
    }
    (LongFaults ++ Seq("9223372036854775808", "\"\"", "false")).foreach(v =>
      assert(one(v).long("g") === Gauge.Fault, v))
  }

  test("gauge helpers: zero-fill, reading, zeroFilled keeps a fault a fault") {
    assert(Gauge.Absent.orZero(0L) === 0L && Gauge.Fault.orZero(0L) === 0L)
    assert(Gauge.Reading(3L).orZero(0L) === 3L)
    assert(Gauge.Absent.zeroFilled(0.0) === Some(0.0))
    assert(Gauge.Fault.zeroFilled(0.0) === None)
    assert(Gauge.Reading(0.5).zeroFilled(0.0) === Some(0.5))
    assert(Gauge.Fault.reading.isEmpty && Gauge.Absent.reading.isEmpty)
  }

  test("seeded fuzz: the reader never throws and reads every node payload as labelled") {
    for (seed <- 1 to 3) {
      val rng = new Random(seed)
      (1 to 2000).foreach { _ =>
        val n = node(rng)
        val a = JmxJson.attributes(n.payload)
        assert(a.double("ProcessCpuLoad").reading === n.cpu, n.payload)
        assert(a.long("AvailableProcessors").orZero(0L) === n.cores, n.payload)
        // arbitrary damage on top: never an exception, whatever it reads
        val m = JmxJson.attributes(mangle(rng, n.payload))
        Seq("ProcessCpuLoad", "AvailableProcessors", "SystemCpuLoad").foreach { g =>
          m.double(g); m.long(g)
        }
      }
    }
  }

  test("seeded fuzz: coordinator payloads read their labelled gauges") {
    Required.foreach { case (p, r) =>
      val g = JmxJson.attributes(p).long("RequiredWorkers").reading.filter(_.isValidInt)
      assert(g.fold(0)(_.toInt) === r, p)
    }
    val rng = new Random(7)
    (QueryStats.map(_._1) ++ Required.map(_._1)).foreach { p =>
      (1 to 200).foreach(_ => JmxJson.attributes(mangle(rng, p)).long("RunningQueries"))
    }
  }
}
